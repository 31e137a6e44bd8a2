"""Seeded generator of daily movie-JSON batches for the `medallion` workload.

Each batch is one landing directory of multiline JSON documents shaped like
the reference feed, `{"movie": [<record>, ...]}` (FIXTURES.md A1). The
record mix exercises every branch of `MoviePipeline`:

* about 5% of unique records have a negative `RunTime` (quarantined by
  bronzeToSilver, repaired with abs() by silverUpdate);
* about 20% have a `Budget` below the 100000 floor (floored in silver);
* about 2% of the records in a batch are exact duplicates of another record
  of the same batch (collapsed by distinct());
* about 3% of genre entries have an empty name (dropped from genres_silver);
* `OriginalLanguage` is one of 8 languages.

`CreatedDate` is drawn from the 28 days before the batch's ingest day, so a
batch writes at most 28 `p_CreatedDate` silver partitions and a run of B
daily batches at most 27 + B. An unbounded spread makes the partitioned
silver writes, not the pipeline, the cost: a 34-year spread made one
20k-record batch take 246 s.

Ids are unique across all batches of a run, so every unique record is new
to silver and the expected stage results follow from the record mix alone.
"""
import datetime
import json
import os
import random

BUDGET_FLOOR = 100000
LANGUAGES = ["en", "fr", "es", "de", "it", "ja", "ko", "zh"]
GENRES = ["Action", "Adventure", "Animation", "Comedy", "Crime",
          "Documentary", "Drama", "Family", "Fantasy", "History", "Horror",
          "Music", "Mystery", "Romance", "Science Fiction", "Thriller",
          "War", "Western"]
WORDS = ("the a of and to in is on for with his her their after before "
         "night city war love story family secret last first world young "
         "old man woman hero return dark light road home king queen game "
         "dream fire water house life death time heart").split()
BASE_DAY = datetime.date(2024, 3, 1)
FILES_PER_BATCH = 4
CREATED_SPREAD_DAYS = 28


def ingest_day(batch):
    """Ingest day of batch `batch` (0-based): one batch per day."""
    return BASE_DAY + datetime.timedelta(days=batch)


def _text(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _record(rng, movie_id, day):
    created = day - datetime.timedelta(days=rng.randint(1, CREATED_SPREAD_DAYS))
    runtime = rng.randint(60, 200)
    if rng.random() < 0.05:
        runtime = -runtime
    if rng.random() < 0.20:
        budget = rng.randint(1000, BUDGET_FLOOR - 1)
    else:
        budget = rng.randint(BUDGET_FLOOR, 200_000_000)
    genres = []
    for gid in rng.sample(range(len(GENRES)), rng.randint(1, 3)):
        name = "" if rng.random() < 0.03 else GENRES[gid]
        genres.append({"id": gid + 1, "name": name})
    release = datetime.date(1990, 1, 1) + datetime.timedelta(
        days=rng.randint(0, 12000))
    title = _text(rng, rng.randint(2, 5)).title()
    slug = title.lower().replace(" ", "-")
    return {
        "Id": movie_id,
        "Budget": budget,
        "Revenue": rng.randint(0, 2_000_000_000),
        "RunTime": runtime,
        "Price": round(rng.uniform(1.0, 30.0), 2),
        "Title": title,
        "Overview": _text(rng, rng.randint(40, 90)),
        "Tagline": _text(rng, rng.randint(4, 10)),
        "ImdbUrl": f"https://www.imdb.com/title/tt{movie_id:08d}/",
        "TmdbUrl": f"https://www.themoviedb.org/movie/{movie_id}-{slug}",
        "PosterUrl": f"https://image.tmdb.org/t/p/w500/{movie_id}p.jpg",
        "BackdropUrl": f"https://image.tmdb.org/t/p/w1280/{movie_id}b.jpg",
        "ReleaseDate": release.isoformat(),
        "CreatedDate": created.isoformat(),
        "UpdatedDate": f"{day.isoformat()} 0{rng.randint(0, 9)}:00:00",
        "UpdatedBy": f"user{rng.randint(1, 50)}",
        "CreatedBy": f"user{rng.randint(1, 50)}",
        "OriginalLanguage": rng.choice(LANGUAGES),
        "Genres": genres,
    }


def make_batch(seed, batch, records):
    """The records of one batch and its expected stage results.

    Returns (records, expected) where `expected` holds the input record
    count, the distinct records bronzeToSilver loads clean and quarantines,
    and the records silverUpdate repairs.
    """
    rng = random.Random(f"{seed}/{batch}")
    n_dup = round(records * 0.02)
    day = ingest_day(batch)
    first_id = batch * records + 1
    unique = [_record(rng, first_id + i, day) for i in range(records - n_dup)]
    rows = unique + [dict(rng.choice(unique)) for _ in range(n_dup)]
    rng.shuffle(rows)
    quarantined = sum(1 for r in unique if r["RunTime"] < 0)
    return rows, {
        "records": len(rows),
        "clean": len(unique) - quarantined,
        "quarantined": quarantined,
        "repaired": quarantined,
    }


def write_batches(root, seed, batches, records):
    """Write `batches` landing directories under `root`; return a manifest.

    Each manifest entry names the landing directory, the batch's ingest
    timestamp (midnight UTC of its ingest day), its raw JSON bytes and its
    expected stage results.
    """
    manifest = []
    for b in range(batches):
        rows, expected = make_batch(seed, b, records)
        land = os.path.join(root, f"day_{b:03d}")
        os.makedirs(land, exist_ok=True)
        raw_bytes = 0
        for f in range(FILES_PER_BATCH):
            path = os.path.join(land, f"movies_{f}.json")
            doc = json.dumps({"movie": rows[f::FILES_PER_BATCH]}, indent=1)
            with open(path, "w") as out:
                out.write(doc)
            raw_bytes += os.path.getsize(path)
        manifest.append(dict(expected, dir=land, raw_bytes=raw_bytes,
                             ingest=f"{ingest_day(b).isoformat()} 00:00:00"))
    return manifest
