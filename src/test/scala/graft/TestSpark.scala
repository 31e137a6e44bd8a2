package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The shipped sf0.001 tables (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

/** Movie-shaped fixtures mirroring the reference's data model (FIXTURES.md §A). */
object MovieFixture {
  // One multiline JSON doc: {"movie":[ ... ]} (operations.py:19-21 shape).
  // Covers: negative RunTime (quarantine+repair), Budget<100000 (floor),
  // empty genre name (dropped), duplicate record (distinct), two languages.
  val rawJson: String =
    """{
      |  "movie": [
      |    {"Id": 1, "Budget": 50000, "Revenue": 1000000, "RunTime": 120,
      |     "Price": 9.99, "Title": "Alpha", "Overview": "o1", "Tagline": "t1",
      |     "ImdbUrl": "i1", "TmdbUrl": "m1", "PosterUrl": "p1", "BackdropUrl": "b1",
      |     "ReleaseDate": "2020-01-01", "CreatedDate": "2020-01-02",
      |     "UpdatedDate": "2020-01-03", "UpdatedBy": "u", "CreatedBy": "c",
      |     "OriginalLanguage": "en",
      |     "Genres": [{"id": 1, "name": "Action"}, {"id": 2, "name": ""}]},
      |    {"Id": 2, "Budget": 2000000, "Revenue": 5000000, "RunTime": -95,
      |     "Price": 14.99, "Title": "Beta", "Overview": "o2", "Tagline": "t2",
      |     "ImdbUrl": "i2", "TmdbUrl": "m2", "PosterUrl": "p2", "BackdropUrl": "b2",
      |     "ReleaseDate": "2021-06-15", "CreatedDate": "2021-06-16",
      |     "UpdatedDate": "2021-06-17", "UpdatedBy": "u", "CreatedBy": "c",
      |     "OriginalLanguage": "fr",
      |     "Genres": [{"id": 1, "name": "Action"}, {"id": 3, "name": "Drama"}]},
      |    {"Id": 3, "Budget": 300000, "Revenue": 700000, "RunTime": 88,
      |     "Price": 4.99, "Title": "Gamma", "Overview": "o3", "Tagline": "t3",
      |     "ImdbUrl": "i3", "TmdbUrl": "m3", "PosterUrl": "p3", "BackdropUrl": "b3",
      |     "ReleaseDate": "2019-03-03", "CreatedDate": "2019-03-04",
      |     "UpdatedDate": "2019-03-05", "UpdatedBy": "u", "CreatedBy": "c",
      |     "OriginalLanguage": "en",
      |     "Genres": [{"id": 3, "name": "Drama"}]},
      |    {"Id": 3, "Budget": 300000, "Revenue": 700000, "RunTime": 88,
      |     "Price": 4.99, "Title": "Gamma", "Overview": "o3", "Tagline": "t3",
      |     "ImdbUrl": "i3", "TmdbUrl": "m3", "PosterUrl": "p3", "BackdropUrl": "b3",
      |     "ReleaseDate": "2019-03-03", "CreatedDate": "2019-03-04",
      |     "UpdatedDate": "2019-03-05", "UpdatedBy": "u", "CreatedBy": "c",
      |     "OriginalLanguage": "en",
      |     "Genres": [{"id": 3, "name": "Drama"}]}
      |  ]
      |}""".stripMargin

  /** Write the raw fixture into `dir`/movie.json and return the dir. */
  def writeRaw(dir: String): String = {
    val p = java.nio.file.Paths.get(dir, "movie.json")
    java.nio.file.Files.writeString(p, rawJson)
    dir
  }
}
