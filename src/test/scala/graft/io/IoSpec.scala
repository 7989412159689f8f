package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.GraftFunctions

class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmpFile(name: String, lines: String*): String = {
    val dir = Files.createTempDirectory("graft-io")
    val f = dir.resolve(name)
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("S1 headerless TSV ratings parse with declared schema (u.data)") {
    // example row from FIXTURES.md §1 / ref doc/课程报告.md:343-345
    val p = tmpFile("u.data",
      "196\t242\t3\t881250949",
      "186\t302\t3\t891717742",
      "22\t377\t1\t878887116")
    val df = MovieLens.readRatingsTsv(spark, p)
    // CSV sources force nullable=true; names and types are the contract
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      MovieLens.ratingSchema.map(f => (f.name, f.dataType)))
    val rows = df.as[(Int, Int, Double, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((22, 377, 1.0, 878887116L),
      (186, 302, 3.0, 891717742L), (196, 242, 3.0, 881250949L)))
  }

  test("S9 ::-separated ratings.dat and movies.dat parse; genres split + multi-hot") {
    val r = MovieLens.readRatingsDat(spark,
      tmpFile("ratings.dat", "1::1193::5::978300760"))
      .as[(Int, Int, Double, Long)].head()
    assert(r == ((1, 1193, 5.0, 978300760L)))

    val m = MovieLens.readMoviesDat(spark,
      tmpFile("movies.dat", "1::Toy Story (1995)::Animation|Children's|Comedy"))
    val genres = m.select(MovieLens.genresArray($"genres")).as[Seq[String]].head()
    assert(genres == Seq("Animation", "Children's", "Comedy"))
    val hot = m.select(
      GraftFunctions.multiHot($"genres", MovieLens.genreVocab).as("v"))
      .as[Seq[Int]].head()
    assert(hot.sum == 3 && hot.length == 18)
    assert(hot(MovieLens.genreVocab.indexOf("Animation")) == 1)
    assert(hot(MovieLens.genreVocab.indexOf("Western")) == 0)
  }

  test("S9 ::-separated users.dat and tags.dat parse with declared schema; empty fields are null") {
    val users = MovieLens.readUsersDat(spark, tmpFile("users.dat",
      "1::F::1::10::48067",
      "2::M::56::16::70072",
      "3::::25::::"))
    assert(users.schema.map(f => (f.name, f.dataType)) ==
      MovieLens.userSchema.map(f => (f.name, f.dataType)))
    val u = users.as[(Int, Option[String], Option[Int], Option[Int], Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(u == Seq((1, Some("F"), Some(1), Some(10), Some("48067")),
      (2, Some("M"), Some(56), Some(16), Some("70072")),
      (3, None, Some(25), None, None)))

    val tags = MovieLens.readTagsDat(spark, tmpFile("tags.dat",
      "15::4973::excellent!::1215184630",
      "20::1747::politics::1188263867",
      "20::2424::::1188263880"))
    assert(tags.schema.map(f => (f.name, f.dataType)) ==
      MovieLens.tagSchema.map(f => (f.name, f.dataType)))
    val t = tags.as[(Int, Int, Option[String], Long)].collect().sortBy(_._2).toSeq
    assert(t == Seq((20, 1747, Some("politics"), 1188263867L),
      (20, 2424, None, 1188263880L),
      (15, 4973, Some("excellent!"), 1215184630L)))
  }

  test("S10 crawler ::-CSV with header parses") {
    val df = MovieLens.readCrawlerCsv(spark,
      tmpFile("scores.csv", "people::movie_name::score",
        "Roger E.::Eternal Sunshine::4.5"))
    assert(df.columns.toSeq == Seq("people", "movie_name", "score"))
    assert(df.count() == 1)
  }

  test("J4/Q8 upsert: update wins, unmatched rows survive, idempotent") {
    val existing = Seq((1, 10, 0.5), (1, 11, 0.4), (2, 10, 0.9))
      .toDF("user_id", "item_id", "score")
    val updates = Seq((1, 10, 0.8), (3, 12, 0.7))
      .toDF("user_id", "item_id", "score")
    val keys = Seq("user_id", "item_id")
    val once = Upsert.merge(existing, updates, keys)
    val got = once.as[(Int, Int, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq((1, 10, 0.8), (1, 11, 0.4), (2, 10, 0.9), (3, 12, 0.7)))
    val twice = Upsert.merge(once, updates, keys)
      .as[(Int, Int, Double)].collect().sortBy(r => (r._1, r._2))
    assert(twice.toSeq == got.toSeq)
  }

  test("upsert with NULL keys: update still wins; delete keeps null-user rows") {
    val existing = Seq((Option(1), 0.5), (Option.empty[Int], 0.1))
      .toDF("user_id", "score")
    val updates = Seq((Option.empty[Int], 0.9)).toDF("user_id", "score")
    val merged = Upsert.merge(existing, updates, Seq("user_id"))
      .as[(Option[Int], Double)].collect().sortBy(_._2)
    // the null-keyed update row must replace the null-keyed existing row
    assert(merged.toSeq == Seq((Some(1), 0.5), (None, 0.9)))

    val recs = Seq((Option(1), 0.5), (Option.empty[Int], 0.1), (Option(2), 0.2))
      .toDF("user_id", "score")
    val left = Upsert.deleteForUsers(recs, Seq(1))
      .as[(Option[Int], Double)].collect().sortBy(_._2)
    // NULL user was never targeted → kept (no NOT-IN three-valued drop)
    assert(left.toSeq == Seq((None, 0.1), (Some(2), 0.2)))
  }

  test("Q8 delete-for-users drops only the targeted users' recs") {
    val recs = Seq((1, 10, 0.5), (2, 11, 0.4), (3, 12, 0.3))
      .toDF("user_id", "item_id", "score")
    val left = Upsert.deleteForUsers(recs, Seq(1, 3))
      .as[(Int, Int, Double)].collect()
    assert(left.toSeq == Seq((2, 11, 0.4)))
  }

  test("S7 parquet write + read-back round trip") {
    val dir = Files.createTempDirectory("graft-pq").resolve("t").toString
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).as[(Int, String)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((1, "a"), (2, "b")))
  }

  test("S7+ every columnar/text sink round-trips a fixture slice losslessly") {
    // the engine's data plane isn't parquet-only: ORC (columnar twin),
    // JSON lines, and headered CSV all carry a real fixture slice through
    // write + read-back with values intact. CSV/JSON need an explicit
    // schema on read (text formats don't persist types; CSV also forces
    // nullable=true — asserted VALUES, not nullability).
    val src = graft.Tables.nation(spark, "/root/testdata/sf0.001")
      .select($"n_nationkey".cast("long").as("k"), $"n_name".as("name"),
        $"n_regionkey".cast("long").as("rk"))
    val want = src.as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(want.size == 25)
    val base = Files.createTempDirectory("graft-fmt")

    val orcDir = base.resolve("orc").toString
    src.coalesce(1).write.mode("overwrite").orc(orcDir)
    assert(spark.read.orc(orcDir)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq == want)

    val jsonDir = base.resolve("json").toString
    src.coalesce(1).write.mode("overwrite").json(jsonDir)
    assert(spark.read.schema(src.schema).json(jsonDir)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq == want)

    val csvDir = base.resolve("csv").toString
    src.coalesce(1).write.mode("overwrite").option("header", "true").csv(csvDir)
    assert(spark.read.schema(src.schema).option("header", "true").csv(csvDir)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq == want)
  }

  test("Tables.events normalizes both fixture ts generations to micros " +
      "TimestampType (nanos-as-long truncation ≡ native-timestamp cast)") {
    // The driver has shipped the events fixture with two parquet ts
    // physical types across rounds: TIMESTAMP(NANOS) (reads as long
    // under nanosAsLong — the r12 generation) and TIMESTAMP(MICROS,
    // isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ — the r13
    // generation, which broke the long-only read path and with it every
    // events query until Tables.events branched on the loaded dtype).
    // Synthesize BOTH generations and pin: same TimestampType schema,
    // same micro values, nanos truncated not rounded.
    val base = Files.createTempDirectory("graft-events-gen")
    val nanos = 1700000000123456789L // …789 ns residue: truncation-sensitive
    val micros = nanos / 1000L
    def row(ts: Long) =
      Seq((1L, ts, 7L, "view", 1.5, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val nanosDir = base.resolve("nanos").toString
    row(nanos).coalesce(1).write.mode("overwrite")
      .parquet(s"$nanosDir/events.parquet")
    val microsDir = base.resolve("micros").toString
    row(micros)
      .withColumn("ts", timestamp_micros($"ts").cast("timestamp_ntz"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$microsDir/events.parquet")

    Seq(nanosDir, microsDir).foreach { d =>
      val ev = graft.Tables.events(spark, d)
      assert(ev.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"wrong ts dtype for $d")
      assert(ev.select(unix_micros($"ts")).as[Long].head() == micros,
        s"wrong micro value for $d")
    }
  }

  test("Tables.load memoizes the parquet schema: a rewritten table and a " +
      "changed parquet setting are seen on the next load") {
    val dir = Files.createTempDirectory("graft-schema-memo").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("id", "s").coalesce(1).write.mode("overwrite")
      .parquet(path)
    assert(graft.Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Seq((2L, "b", 0.5)).toDF("id", "s", "x").coalesce(1).write
      .mode("overwrite").parquet(path)
    val again = graft.Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("id", "s", "x"))
    assert(again.as[(Long, String, Double)].collect().toSeq ==
      Seq((2L, "b", 0.5)))

    // a parquet setting that changes what is inferred: a real
    // TIMESTAMP(NANOS) column (written with parquet's example writer —
    // Spark writes no nanos) reads as bigint under nanosAsLong and is
    // refused without it, so a memoized load must match a direct read
    // under each setting, in either order
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(nanos)
    val tsDir = Files.createTempDirectory("graft-schema-nanos").toString
    val nanosType = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$tsDir/ts.parquet"))
      .withType(nanosType).build()
    w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      nanosType).newGroup().append("ts", 1700000000123456789L))
    w.close()
    def schemaOf(read: => org.apache.spark.sql.DataFrame) =
      scala.util.Try(read.schema).toOption
    try {
      val seen = Seq("true", "false", "true").map { v =>
        spark.conf.set(nanos, v)
        val memo = schemaOf(graft.Tables.load(spark, tsDir, "ts"))
        assert(memo == schemaOf(spark.read.parquet(s"$tsDir/ts.parquet")),
          s"memoized schema differs from a direct read under $nanos=$v")
        memo
      }
      assert(seen.distinct.size == 2, s"the setting changed nothing: $seen")
      // events loads the same whatever nanosAsLong was before the call
      val fixture = "/root/testdata/sf0.001"
      val rows = Seq("false", "true").map { v =>
        spark.conf.set(nanos, v)
        bitLines(graft.Tables.events(spark, fixture))
      }
      assert(rows.head.nonEmpty && rows.head == rows(1))
    } finally before.fold(spark.conf.unset(nanos))(spark.conf.set(nanos, _))
  }
}
