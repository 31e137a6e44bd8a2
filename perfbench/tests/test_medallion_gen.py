"""Spec of the medallion generator: seeded, shaped like FIXTURES.md A1, and
its expected stage results follow from the records it writes.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import medallion_gen as gen  # noqa: E402

RECORDS = 4000


def read_text(path):
    with open(path) as f:
        return f.read()


def key(r):
    return json.dumps(r, sort_keys=True)


class MedallionGenSpec(unittest.TestCase):
    def setUp(self):
        self.rows, self.expected = gen.make_batch(7, 3, RECORDS)
        self.unique = {key(r): r for r in self.rows}.values()

    def test_same_seed_same_batch_and_other_seed_differs(self):
        again, _ = gen.make_batch(7, 3, RECORDS)
        other, _ = gen.make_batch(8, 3, RECORDS)
        self.assertEqual(self.rows, again)
        self.assertNotEqual(self.rows, other)

    def test_expected_counts_follow_from_the_records(self):
        unique = list(self.unique)
        negative = sum(1 for r in unique if r["RunTime"] < 0)
        self.assertEqual(self.expected["records"], RECORDS)
        self.assertEqual(len(self.rows), RECORDS)
        self.assertEqual(self.expected["quarantined"], negative)
        self.assertEqual(self.expected["clean"], len(unique) - negative)
        self.assertEqual(self.expected["repaired"], negative)

    def test_record_mix(self):
        unique = list(self.unique)
        n = len(unique)
        self.assertAlmostEqual(sum(r["RunTime"] < 0 for r in unique) / n, 0.05, delta=0.015)
        self.assertAlmostEqual(sum(r["Budget"] < gen.BUDGET_FLOOR for r in unique) / n,
                               0.20, delta=0.03)
        self.assertAlmostEqual((RECORDS - n) / RECORDS, 0.02, delta=0.001)
        genres = [g for r in unique for g in r["Genres"]]
        self.assertTrue(any(g["name"] == "" for g in genres))
        self.assertLess(sum(g["name"] == "" for g in genres) / len(genres), 0.06)
        self.assertEqual({r["OriginalLanguage"] for r in unique}, set(gen.LANGUAGES))
        self.assertEqual(len(gen.LANGUAGES), 8)

    def test_ids_unique_within_and_across_batches(self):
        ids = [r["Id"] for r in self.unique]
        self.assertEqual(len(ids), len(set(ids)))
        nxt, _ = gen.make_batch(7, 4, RECORDS)
        self.assertFalse(set(ids) & {r["Id"] for r in nxt})

    def test_created_date_within_28_days_before_ingest(self):
        day = gen.ingest_day(3)
        created = {datetime.date.fromisoformat(r["CreatedDate"]) for r in self.rows}
        self.assertTrue(all(day - datetime.timedelta(days=28) <= c < day for c in created))
        self.assertEqual(len(created), 28)

    def test_write_batches_lands_one_directory_per_day(self):
        with tempfile.TemporaryDirectory() as root:
            manifest = gen.write_batches(root, 7, 2, 200)
            self.assertEqual([m["ingest"] for m in manifest],
                             ["2024-03-01 00:00:00", "2024-03-02 00:00:00"])
            for m in manifest:
                files = sorted(os.listdir(m["dir"]))
                self.assertEqual(len(files), gen.FILES_PER_BATCH)
                rows = [r for f in files for r in json.loads(
                    read_text(os.path.join(m["dir"], f)))["movie"]]
                self.assertEqual(len(rows), m["records"])
                self.assertEqual(m["raw_bytes"], sum(
                    os.path.getsize(os.path.join(m["dir"], f)) for f in files))


if __name__ == "__main__":
    unittest.main()
