package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.Etl
import graft.functions.ODataFunctions._

class EtlSpec extends SparkSpec {
  import spark.implicits._

  test("distinctKeys filters null/empty, distincts, sorts") {
    val df = Seq("b", "a", "b", "", "a", "c").toDF("k")
      .union(Seq[Option[String]](None).toDF("k"))
    val got = Etl.distinctKeys(df, "k").as[String].collect().toSeq
    assert(got == Seq("a", "b", "c"))
  }

  test("valuePartitionedScan restricts main to codes' key set (semi-join semantics)") {
    val main  = Seq(("x", 1), ("y", 2), ("z", 3), ("x", 4)).toDF("k", "v")
    val codes = Seq("x", "z", "w").toDF("k") // w absent from main; y absent from codes
    val got = Etl.valuePartitionedScan(main, codes, "k")
      .orderBy("v").as[(String, Int)].collect().toSeq
    assert(got == Seq(("x", 1), ("z", 3), ("x", 4)).sortBy(_._2))
  }

  test("valuePartitionedScan: over-cap key set drops the broadcast hint, keeps semantics") {
    val main  = Seq(("x", 1), ("y", 2), ("z", 3), ("x", 4)).toDF("k", "v")
    val codes = Seq("x", "z", "w").toDF("k")
    val hinted   = Etl.valuePartitionedScan(main, codes, "k")
    val fallback = Etl.valuePartitionedScan(main, codes, "k", maxBroadcastKeys = 2)
    // identical rows either way — the guard changes strategy, not semantics
    assert(fallback.orderBy("v").as[(String, Int)].collect().toSeq ==
           hinted.orderBy("v").as[(String, Int)].collect().toSeq)
    // the hint itself must be present below / absent above the cap
    // (Catalyst/AQE may still auto-broadcast the small side — that's
    // the point: above the cap the ENGINE decides from byte sizes,
    // we no longer force it)
    assert(hinted.queryExecution.optimizedPlan.toString.toLowerCase.contains("broadcast"),
      "under the cap the key side must carry an explicit broadcast hint")
    assert(!fallback.queryExecution.optimizedPlan.toString.toLowerCase.contains("broadcast"),
      "over the cap no broadcast hint may be forced")
  }

  test("renameColumns maps listed names, passes others through") {
    val df  = Seq((1, "a", true)).toDF("c1", "c2", "c3")
    val got = Etl.renameColumns(df, Map("c1" -> "id", "c3" -> "flag"))
    assert(got.columns.toSeq == Seq("id", "c2", "flag"))
  }

  test("reorderColumns puts expected-first (present only), then rest in arrival order") {
    val df  = Seq((1, 2, 3, 4)).toDF("d", "b", "a", "c")
    val got = Etl.reorderColumns(df, Seq("a", "zz_missing", "b"))
    assert(got.columns.toSeq == Seq("a", "b", "d", "c"))
  }

  test("stringifyNested converts struct cols to JSON, keeps scalars") {
    val df = Seq((1, ("x", 2))).toDF("id", "s")
    val got = Etl.stringifyNested(df)
    assert(got.schema("s").dataType.typeName == "string")
    assert(got.select("s").as[String].head() == """{"_1":"x","_2":2}""")
  }

  test("dedupRows dedups on stringified form (SURVEY §4.3.1)") {
    val df = Seq((1, ("a", 1)), (1, ("a", 1)), (1, ("a", 2))).toDF("id", "s")
    assert(Etl.dedupRows(df).count() == 2)
  }

  test("odata date decode: valid, negative, garbage, null") {
    val df = Seq("/Date(1776729600000)/", "/Date(-1000)/", "not-a-date", null)
      .toDF("d").select(odataDateDecode(col("d")).as("ts"))
    val got = df.select(unix_millis(col("ts"))).as[Option[Long]].collect().toSeq
    assert(got == Seq(Some(1776729600000L), Some(-1000L), None, None))
  }

  test("odata date encode/decode round-trips") {
    val df = Seq(1776729600000L, 0L, -86400000L).toDF("ms")
      .select(timestamp_millis(col("ms")).as("ts"))
    val back = df.select(unix_millis(odataDateDecode(odataDateEncode(col("ts")))).as("ms"))
    assert(back.as[Long].collect().toSeq == Seq(1776729600000L, 0L, -86400000L))
  }

  test("odata quote escape doubles single quotes (etl.py:147 semantics)") {
    assert(odataQuoteEscape("O'Brien's") == "O''Brien''s")
    assert(odataEqFilter("name", "O'x") == "name eq 'O''x'")
  }

  test("golden: reference employee CSV semantics from stub OData rows (FIXTURES A1/A2)") {
    // Stub rows shaped like the reference's OData v2 payload after
    // envelope decode — includes the accidental __metadata struct and
    // the detected structure column.
    val rows = Seq(
      ("Timothy J. DeChant", "44", "/Date(1776729600000)/", "/Date(1776729600000)/", "1",
        "006NZH27SNDOQH5K1H9AQXCE4", ("uri1", "sapbyd.T")),
      ("Timothy J. DeChant", "44", "/Date(1776729600000)/", "/Date(1776729600000)/", "1",
        "006NZH27SNDOQH5K1H9AQXCE4", ("uri1", "sapbyd.T")), // exact dup → dropped
      ("Ada L.", "45", "/Date(1776729600000)/", "/Date(1776815999000)/", "1",
        "006NZH27SNDOQH5K1H9AQXCE4", ("uri2", "sapbyd.T"))   // different __metadata → kept
    ).toDF("TEMPLOYEE_UUID", "CEMPLOYEE_UUID", "C0DATEFROM", "C0DATETO",
           "KCLEAVERS", "C0CHAR_STRUCTURE", "__metadata")
    val renameMap = Map(
      "TEMPLOYEE_UUID" -> "Employee", "CEMPLOYEE_UUID" -> "EmployeeID",
      "C0DATEFROM" -> "DateFrom", "C0DATETO" -> "DateTo",
      "KCLEAVERS" -> "KCleavers", "C0CHAR_STRUCTURE" -> "Structure")
    val out = Etl.dedupRows(Etl.reorderColumns(
      Etl.renameColumns(rows, renameMap),
      Seq("Employee", "EmployeeID", "DateFrom", "DateTo", "KCleavers", "Structure")))
    assert(out.columns.toSeq ==
      Seq("Employee", "EmployeeID", "DateFrom", "DateTo", "KCleavers", "Structure", "__metadata"))
    assert(out.count() == 2) // exact dup removed, __metadata-differing row kept
    // dates survive verbatim (never parsed), per reference semantics
    assert(out.select("DateFrom").as[String].collect().forall(_ == "/Date(1776729600000)/"))
  }

  test("csv sink writes a single header file (K1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    Etl.writeCsv(Seq((1, "a"), (2, "b")).toDF("id", "v"), s"$dir/out")
    val files = new java.io.File(s"$dir/out").listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines.head == "id,v" && lines.size == 3)
  }

  // the sink directory's files other than checksums, and the lines of
  // each part file
  private def csvDir(dir: String): (Seq[String], Seq[Seq[String]]) = {
    val files = new java.io.File(dir).listFiles().toSeq.filterNot(_.getName.endsWith(".crc"))
      .sortBy(_.getName)
    val parts = files.filter(_.getName.startsWith("part-"))
    (files.map(f => if (f.getName.startsWith("part-")) "part" else f.getName),
      parts.map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      })
  }

  // a 4-partition frame whose values need quoting, embedded newlines included
  private def fourParts = spark.range(0, 40, 1, 4).select(col("id"),
    concat(lit("v,\"q\"\n"), col("id")).as("text"), (col("id") % 3 === 0).as("flag"))

  test("csv sink: parallel parts concatenate into one file with the coalesced write's lines") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_parts").toString
    val df = fourParts
    assert(df.rdd.getNumPartitions == 4)
    Etl.writeCsv(df, s"$dir/parts")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/coalesced")
    val (files, Seq(lines)) = csvDir(s"$dir/parts")
    val (_, Seq(want)) = csvDir(s"$dir/coalesced")
    assert(files == Seq("_SUCCESS", "part"))
    assert(lines.head == "id,text,flag" && lines.count(_ == "id,text,flag") == 1)
    assert(lines.sorted == want.sorted)
    assert(spark.read.option("header", "true").option("multiLine", "true").csv(s"$dir/parts")
      .count() == 40)
    // only the sink's directory is left beside it: no temporary one
    assert(new java.io.File(dir).list().sorted.toSeq == Seq("coalesced", "parts"))
  }

  test("csv sink: an empty frame writes what the coalesced write wrote, one header-only file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_empty").toString
    val empty = spark.range(0, 40, 1, 4).where(col("id") < 0)
      .groupBy((col("id") % 5).as("k")).agg(count(lit(1)).as("n"))
    Etl.writeCsv(empty, s"$dir/out")
    empty.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/coalesced")
    assert(csvDir(s"$dir/out") == csvDir(s"$dir/coalesced"))
    assert(csvDir(s"$dir/out") == (Seq("_SUCCESS", "part"), Seq(Vector("k,n"))))
  }

  test("csv sink: overwrite replaces an existing directory's files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_overwrite").toString
    Etl.writeCsv(spark.range(0, 100, 1, 4).toDF("old"), s"$dir/out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "out", "stale.txt"), "x")
    Etl.writeCsv(Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(2), s"$dir/out")
    val (files, Seq(lines)) = csvDir(s"$dir/out")
    assert(files == Seq("_SUCCESS", "part"))
    assert(lines.head == "id,v" && lines.tail.sorted == Seq("1,a", "2,b"))
    assert(new java.io.File(dir).list().toSeq == Seq("out"))
  }

  test("csv sink: the write's final stage runs one task per partition, not one") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_tasks").toString
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))) match {
          case Some("csv sink") => tasks.add(e.stageInfo.numTasks)
          case Some("csv sink: done") => done.countDown()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobDescription("csv sink")
      Etl.writeCsv(fourParts, s"$dir/out")
      spark.sparkContext.setJobDescription("csv sink: done")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(tasks.asScala.toSeq.map(_.intValue) == Seq(4))
  }

  test("flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("snapshotDiff classifies added, removed, changed, and silent rows") {
    import org.apache.spark.sql.functions.col
    val oldSnap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val newSnap = Seq((2L, "b", 20.0), (3L, "c", 31.0), (4L, "d", 40.0))
      .toDF("k", "s", "v")
    val got = Etl.snapshotDiff(oldSnap, newSnap, Seq("k"))
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "removed"), (3L, "changed"), (4L, "added")))
    // identical snapshots → empty diff
    assert(Etl.snapshotDiff(oldSnap, oldSnap, Seq("k")).count() == 0)
    // a refresh that only reordered columns is NOT a change
    val reordered = oldSnap.select(col("v"), col("k"), col("s"))
    assert(Etl.snapshotDiff(oldSnap, reordered, Seq("k")).count() == 0)
  }

  test("snapshotDiffDetail names exactly the differing non-key columns") {
    val oldSnap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (5L, "e", 50.0))
      .toDF("k", "s", "v")
    val newSnap = Seq((2L, "B", 20.0), (3L, "c", 31.0), (4L, "d", 40.0), (5L, "E", 55.0))
      .toDF("k", "s", "v")
    val got = Etl.snapshotDiffDetail(oldSnap, newSnap, Seq("k"))
      .orderBy("k").as[(Long, String, Option[String])].collect().toSeq
    assert(got == Seq(
      (1L, "removed", None),
      (2L, "changed", Some("s")),
      (3L, "changed", Some("v")),
      (4L, "added", None),
      (5L, "changed", Some("s,v"))))
  }

  test("incrementalApply lands exactly on the new snapshot (merge = delete + upsert)") {
    val oldSnap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (5L, "e", 50.0))
      .toDF("k", "s", "v")
    val newSnap = Seq((2L, "B", 20.0), (3L, "c", 31.0), (4L, "d", 40.0), (5L, "e", 50.0))
      .toDF("k", "s", "v")
    val merged = Etl.incrementalApply(oldSnap, newSnap, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(merged == Seq((2L, "B", 20.0), (3L, "c", 31.0), (4L, "d", 40.0), (5L, "e", 50.0)))
    // empty delta: applying a snapshot onto itself is the identity
    assert(Etl.incrementalApply(oldSnap, oldSnap, Seq("k")).count() == oldSnap.count())
  }

  test("scd2Build: closed/open versions partition the history; current rows = new snapshot") {
    import org.apache.spark.sql.functions._
    // key 1 removed, 2 changed, 3 unchanged, 4 added
    val oldSnap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v")
    val newSnap = Seq((2L, "B", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)).toDF("k", "s", "v")
    val hist = Etl.scd2Build(oldSnap, newSnap, Seq("k"), "2024-01-01", "2024-02-01")
    val rows = hist
      .select(col("k"), col("s"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("is_current"))
      .as[(Long, String, String, Option[String], Boolean)]
      .collect().toSeq.sortBy(r => (r._1, r._3))
    assert(rows == Seq(
      (1L, "a", "2024-01-01", Some("2024-02-01"), false), // removed: closed only
      (2L, "b", "2024-01-01", Some("2024-02-01"), false), // changed: closed old...
      (2L, "B", "2024-02-01", None, true),                // ...plus open new
      (3L, "c", "2024-01-01", None, true),                // unchanged: open since old
      (4L, "d", "2024-02-01", None, true)))               // added: open at new
    // the current slice of the history IS the new snapshot
    val current = hist.where(col("is_current")).select("k", "s", "v")
      .as[(Long, String, Double)].collect().toSet
    assert(current == newSnap.as[(Long, String, Double)].collect().toSet)

    // point-in-time lookup: each probe date sees the version in
    // effect then; a key removed in era 2 matches nothing afterwards
    val facts = Seq(1L, 2L, 3L, 4L).toDF("k")
      .withColumn("fact_date", explode(array(
        to_date(lit("2024-01-15")), to_date(lit("2024-02-15")))))
    val looked = Etl.scd2Lookup(facts, hist, Seq("k"), "fact_date")
      .select(col("k"), col("fact_date").cast("string"), col("s"))
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(looked == Seq(
      (1L, "2024-01-15", "a"),                           // removed: era 1 only
      (2L, "2024-01-15", "b"), (2L, "2024-02-15", "B"),  // changed: old then new
      (3L, "2024-01-15", "c"), (3L, "2024-02-15", "c"),  // unchanged: same both eras
      (4L, "2024-02-15", "d")),                          // added: era 2 only
      s"point-in-time lookup mismatch: $looked")
  }

  test("applyChangeLog: latest seq wins, deletes drop, inserts land, U beats D on seq tie") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v")
    val changes = Seq(
      (1L, "a1", 11.0, 1L, "U"), (1L, "a2", 12.0, 2L, "U"), // two updates: seq 2 wins
      (2L, "b", 20.0, 1L, "D"),                             // delete key 2
      (3L, "cD", 0.0, 5L, "D"), (3L, "cU", 33.0, 5L, "U"),  // tie: U outranks D
      (4L, "d", 40.0, 1L, "U")                              // insert new key
    ).toDF("k", "s", "v", "_seq", "_op")
    val got = Etl.applyChangeLog(base, changes, Seq("k"), "_seq", "_op")
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a2", 12.0), (3L, "cU", 33.0), (4L, "d", 40.0)))
    // empty change log is the identity
    assert(Etl.applyChangeLog(base, changes.where($"k" < 0), Seq("k"), "_seq", "_op")
      .count() == base.count())
  }

  test("writeJsonl round-trips nested struct columns losslessly") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "O", "1-URGENT", 12.5), (2L, "F", "5-LOW", 99.25))
      .toDF("id", "status", "priority", "price")
      .select(col("id"), struct(col("status"), col("priority")).as("meta"), col("price"))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_jsonl"
    Etl.writeJsonl(df, path)
    val back = spark.read
      .schema("id BIGINT, meta STRUCT<status: STRING, priority: STRING>, price DOUBLE")
      .json(path)
      .select(col("id"), col("meta.status"), col("meta.priority"), col("price"))
      .as[(Long, String, String, Double)].collect().toSeq.sortBy(_._1)
    assert(back == Seq((1L, "O", "1-URGENT", 12.5), (2L, "F", "5-LOW", 99.25)))
  }

  test("zOrderValue interleaves bits; writeZOrdered bounds BOTH dimensions per file") {
    import org.apache.spark.sql.functions._
    // Morton basics: (a=1, b=0) -> 2, (a=0, b=1) -> 1, (a=3, b=3) -> 15
    val z = Seq((1L, 0L), (0L, 1L), (3L, 3L)).toDF("a", "b")
      .select(Etl.zOrderValue(col("a"), col("b"), bits = 4).as("z"))
      .as[Long].collect().toSeq
    assert(z == Seq(2L, 1L, 15L), s"morton mismatch: $z")
    // 64x64 uniform grid → 16 z-files must each cover a bounded cube
    // on BOTH dims; a linear sort by `a` leaves b unbounded per file
    val grid = spark.range(4096)
      .select((col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    val zPath = s"${System.getProperty("java.io.tmpdir")}/graft_spec_zorder"
    Etl.writeZOrdered(grid, zPath, "a", "b", numFiles = 16, bits = 6)
    def fileRanges(path: String): Seq[(Double, Double)] = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
      files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("a"), max("a"), min("b"), max("b")).head()
        ((r.getLong(1) - r.getLong(0)) / 63.0, (r.getLong(3) - r.getLong(2)) / 63.0)
      }
    }
    val zr = fileRanges(zPath)
    assert(zr.nonEmpty && zr.forall { case (ra, rb) => ra <= 0.6 && rb <= 0.6 },
      s"every z-file must bound both dims, got $zr")
    // control: linear sort by a → some file spans (nearly) all of b
    val linPath = s"${System.getProperty("java.io.tmpdir")}/graft_spec_zorder_lin"
    grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(linPath)
    val lr = fileRanges(linPath)
    assert(lr.exists { case (_, rb) => rb >= 0.9 },
      s"linear layout should leave b unbounded somewhere, got $lr")
  }

  test("ensureZOrdered: builds once, serves the existing layout after") {
    import org.apache.spark.sql.functions._
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_zorder_ensure"
    val dir = new java.io.File(path)
    if (dir.exists()) { // clean slate so the first call must build
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
    val grid = spark.range(256)
      .select((col("id") % 16).as("a"), (col("id") / 16).cast("long").as("b"))
    var built = 0
    def src = { built += 1; grid } // by-name: counts actual builds
    Etl.ensureZOrdered(src, path, "a", "b", numFiles = 4, bits = 4)
    assert(built == 1, "first call must build the layout")
    val mtimes = dir.listFiles().map(f => f.getName -> f.lastModified).toMap
    Etl.ensureZOrdered(src, path, "a", "b", numFiles = 4, bits = 4)
    assert(built == 1, "second call must SERVE, not rebuild (by-name df untouched)")
    val after = dir.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after == mtimes, "served layout must be byte-untouched on disk")
    assert(spark.read.parquet(path).count() == 256)
  }

  test("fixed-width sink/source: exact spans, null as empty, fail-fast on overflow") {
    import org.apache.spark.sql.functions._
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_fixedwidth"
    val df = Seq((1L, "AB", 12.5), (22L, "C", 0.25), (333L, null, 99.0))
      .toDF("k", "s", "v")
    val widths = Seq("k" -> 5, "s" -> 4, "v" -> 8)
    Etl.writeFixedWidth(df, path, widths)
    // raw lines carry exact spans (right-padded, null -> spaces)
    val lines = spark.read.text(path).as[String].collect().sorted.toSeq
    assert(lines == Seq("1    AB  12.5    ", "22   C   0.25    ",
      "333      99.0    "), s"raw lines: $lines")
    val back = Etl.readFixedWidth(spark, path, widths)
      .select(col("k").cast("long"), col("s"), col("v").cast("double"))
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    // fixed-width cannot distinguish null from empty — documented
    assert(back == Seq((1L, "AB", 12.5), (22L, "C", 0.25), (333L, "", 99.0)),
      s"round-trip: $back")
    // a too-wide value must fail fast, never corrupt following spans —
    // the guard rides the write expression (raise_error), so it
    // surfaces as a SparkException wrapping USER_RAISED_EXCEPTION
    val ex = intercept[Exception] {
      Etl.writeFixedWidth(df, path, Seq("k" -> 2, "s" -> 4, "v" -> 8))
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("exceeds width 2"), s"unexpected failure: $msgs")
    // empty input writes an empty file (the old pre-scan sum() was
    // null here and threw NPE) — and costs no second validation scan
    val emptyPath = s"${path}_empty"
    Etl.writeFixedWidth(df.where(lit(false)), emptyPath, widths)
    assert(spark.read.text(emptyPath).count() == 0)
  }

  test("PackedDecimal: hand-checked BCD bytes, sign nibble conventions, malformed spans decode null") {
    import graft.plans.PackedDecimal
    import org.apache.spark.sql.types.Decimal
    // 12345 at p=5: nibbles 1 2 3 4 5 C → 0x12 0x34 0x5C
    assert(PackedDecimal.encode(Decimal(12345L, 5, 0), 5).toSeq ==
      Seq(0x12, 0x34, 0x5C).map(_.toByte))
    // -987.65 at p=5 s=2: unscaled -98765 → 0x98 0x76 0x5D
    assert(PackedDecimal.encode(Decimal(-98765L, 5, 2), 5).toSeq ==
      Seq(0x98.toByte, 0x76, 0x5D.toByte))
    // even precision pads one leading zero nibble: 42 at p=2 → 0x04 0x2C
    assert(PackedDecimal.encode(Decimal(42L, 2, 0), 2).toSeq ==
      Seq(0x04, 0x2C).map(_.toByte))
    // decode round-trips, including every lawful sign nibble
    assert(PackedDecimal.decode(Array[Byte](0x98.toByte, 0x76, 0x5D.toByte), 5, 2)
      == Decimal(BigDecimal("-987.65"), 5, 2))
    assert(PackedDecimal.decode(Array[Byte](0x12, 0x34, 0x5F), 5, 0)
      == Decimal(12345L, 5, 0), "0xF = unsigned positive")
    assert(PackedDecimal.decode(Array[Byte](0x12, 0x34, 0x5B), 5, 0)
      == Decimal(-12345L, 5, 0), "0xB = negative")
    // malformed: digit nibble > 9; digit in the sign slot; bad length;
    // even-precision leading nibble used (value exceeds p digits)
    assert(PackedDecimal.decode(Array[Byte](0xA2.toByte, 0x34, 0x5C), 5, 0) == null)
    assert(PackedDecimal.decode(Array[Byte](0x12, 0x34, 0x55), 5, 0) == null)
    assert(PackedDecimal.decode(Array[Byte](0x12, 0x3C), 5, 0) == null)
    assert(PackedDecimal.decode(Array[Byte](0x99.toByte, 0x9C.toByte), 2, 0) == null,
      "999 does not fit PIC 9(2)")
    // declaration guards surface at expression construction
    intercept[IllegalArgumentException] {
      graft.plans.PackedDecimalDecode(
        org.apache.spark.sql.catalyst.expressions.Literal(Array[Byte](0x1C)), 19, 0)
    }
    intercept[IllegalArgumentException] {
      graft.plans.PackedDecimalDecode(
        org.apache.spark.sql.catalyst.expressions.Literal(Array[Byte](0x1C)), 5, 6)
    }
    // ZONED (overpunch) sibling: +12345 → "1234E", −98765 → "9876N",
    // +0 → "{"; a plain trailing digit reads as unsigned positive
    import graft.plans.ZonedDecimal
    assert(new String(ZonedDecimal.encode(Decimal(12345L, 5, 0), 5),
      "ISO-8859-1") == "1234E")
    assert(new String(ZonedDecimal.encode(Decimal(-98765L, 5, 2), 5),
      "ISO-8859-1") == "9876N")
    assert(new String(ZonedDecimal.encode(Decimal(0L, 1, 0), 1),
      "ISO-8859-1") == "{")
    assert(ZonedDecimal.decode("9876N".getBytes("ISO-8859-1"), 5, 2)
      == Decimal(BigDecimal("-987.65"), 5, 2))
    assert(ZonedDecimal.decode("12345".getBytes("ISO-8859-1"), 5, 0)
      == Decimal(12345L, 5, 0), "unsigned trailing digit is positive")
    assert(ZonedDecimal.decode("12E45".getBytes("ISO-8859-1"), 5, 0) == null,
      "overpunch only in the last position")
    assert(ZonedDecimal.decode("1234Z".getBytes("ISO-8859-1"), 5, 0) == null)
    assert(ZonedDecimal.decode("123E".getBytes("ISO-8859-1"), 5, 0) == null,
      "wrong span length")
  }

  test("fixed binary records: COMP-3 + text spans round-trip; negatives exact; nulls and overflow fail fast") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_fixedrec"
    val df = Seq((1L, "AB", BigDecimal("-987.65")), (22L, "C", BigDecimal("0.05")),
      (333L, "DE F", BigDecimal("12345678901.00")))
      .toDF("k", "s", "v")
      .select(col("k").cast(DecimalType(9, 0)).as("k"), col("s"),
        col("v").cast(DecimalType(13, 2)).as("v"))
    val spans = Seq(Etl.PackedSpan("k", 9, 0), Etl.CharSpan("s", 6),
      Etl.PackedSpan("v", 13, 2), Etl.ZonedSpan("z", 13, 2))
    val dfz = df.withColumn("z", col("v"))
    Etl.writeFixedRecords(dfz, path, spans)
    // raw layout: every record exactly 5 + 6 + 7 + 13 = 31 bytes,
    // no delimiters
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".bin")).head.getPath))
    assert(raw.length == 3 * 31, s"raw bytes: ${raw.length}")
    val back = Etl.readFixedRecords(spark, path, spans)
      .select(col("k").cast("long"), col("s"), col("v").cast("string"),
        col("z").cast("string"))
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, "AB", "-987.65", "-987.65"),
      (22L, "C", "0.05", "0.05"),
      (333L, "DE F", "12345678901.00", "12345678901.00")), s"round-trip: $back")
    // a null packed value must fail fast (no null representation)
    val exNull = intercept[Exception] {
      Etl.writeFixedRecords(dfz.withColumn("v", lit(null).cast(DecimalType(13, 2))),
        s"${path}_null", spans)
    }
    val msgs = Iterator.iterate(exNull: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("cannot encode SQL NULL"), msgs)
    // a too-wide text value fails fast, same inline-guard discipline
    val exWide = intercept[Exception] {
      Etl.writeFixedRecords(dfz, s"${path}_wide",
        Seq(Etl.PackedSpan("k", 9, 0), Etl.CharSpan("s", 2),
          Etl.PackedSpan("v", 13, 2), Etl.ZonedSpan("z", 13, 2)))
    }
    val msgs2 = Iterator.iterate(exWide: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs2.contains("exceeds width 2"), msgs2)
  }

  test("Codepage: IBM037 byte pins, total decode, unmappable chars fail fast") {
    import graft.plans.Codepage
    import org.apache.spark.unsafe.types.UTF8String
    // hand-checked EBCDIC code points: 'A'=0xC1, 'a'=0x81, '0'=0xF0,
    // space=0x40, '#'=0x7B (the fixture names' chars all land here)
    assert(Codepage.encode(UTF8String.fromString("A0a #"), "IBM037").toSeq ==
      Seq(0xC1, 0xF0, 0x81, 0x40, 0x7B).map(_.toByte))
    assert(Codepage.decode(
      Array(0xC1, 0xF0, 0x81, 0x40, 0x7B).map(_.toByte), "IBM037").toString
      == "A0a #")
    // nothing ASCII survives: an ASCII read of EBCDIC bytes garbles
    assert(new String(Codepage.encode(UTF8String.fromString("AB"), "IBM037"),
      "ISO-8859-1") != "AB")
    // decode is TOTAL, and encode→decode is an exact identity on the
    // decode of every byte (the string round-trip the gate rides);
    // byte-level re-encode differs ONLY at the one JDK-table
    // ambiguity: NL 0x15 and LF 0x25 both decode to U+000A and
    // re-encode canonicalizes to LF 0x25
    val all = Array.tabulate(256)(_.toByte)
    val asChars = Codepage.decode(all, "IBM037")
    assert(Codepage.decode(
      Codepage.encode(asChars, "IBM037"), "IBM037").toString == asChars.toString)
    val reenc = Codepage.encode(asChars, "IBM037")
    val diffs = all.indices.filter(i => reenc(i) != all(i))
    assert(diffs == Seq(0x15) && reenc(0x15) == 0x25.toByte,
      s"unexpected non-identity bytes: ${diffs.map(i => f"$i%02X")}")
    // write-side fail-fast: IBM037 has no '€' (that is IBM1140)
    val ex = intercept[IllegalArgumentException] {
      Codepage.encode(UTF8String.fromString("€"), "IBM037")
    }
    assert(ex.getMessage.contains("cannot encode"), ex.getMessage)
    // a multi-byte charset is rejected at table build
    intercept[IllegalArgumentException] { Codepage.checkCharset("UTF-8") }
  }

  test("fixed binary records: EBCDIC spans travel as true IBM037 bytes and round-trip exactly") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_ebcdicrec"
    val df = Seq((1L, "AB c#1"), (22L, ""), (333L, "x y"))
      .toDF("k", "s")
      .select(col("k").cast(DecimalType(9, 0)).as("k"), col("s"))
    val spans = Seq(Etl.PackedSpan("k", 9, 0), Etl.EbcdicSpan("s", 8))
    Etl.writeFixedRecords(df, path, spans)
    // byte-level pin on record 1 (k=1): packed 0x00..0x1C then
    // "AB c#1  " in EBCDIC — 'A'=0xC1,'B'=0xC2,' '=0x40,'c'=0x83,
    // '#'=0x7B,'1'=0xF1, space-padded with 0x40 (NOT ASCII 0x20)
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".bin")).head.getPath))
    assert(raw.length == 3 * (5 + 8), s"raw bytes: ${raw.length}")
    assert(raw.slice(5, 13).toSeq ==
      Seq(0xC1, 0xC2, 0x40, 0x83, 0x7B, 0xF1, 0x40, 0x40).map(_.toByte),
      raw.slice(5, 13).map(b => f"$b%02X").mkString(" "))
    val back = Etl.readFixedRecords(spark, path, spans)
      .select(col("k").cast("long"), col("s"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, "AB c#1"), (22L, ""), (333L, "x y")), s"round-trip: $back")
    // an unmappable char fails the WRITE fast (never a silent
    // substitution byte into a 100 TB feed)
    val ex = intercept[Exception] {
      Etl.writeFixedRecords(df.withColumn("s", lit("bad €")), s"${path}_bad", spans)
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("cannot encode"), msgs)
  }

  test("RDW records: variable-length framing byte-exact, unpadded tail, overflow and corruption fail fast") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_rdwrec"
    val df = Seq((1L, "AB"), (22L, ""), (333L, "a longer tail x"))
      .toDF("k", "s")
      .select(col("k").cast(DecimalType(9, 0)).as("k"), col("s"))
    val spans = Seq(Etl.PackedSpan("k", 9, 0))
    val tail = Some("s" -> "IBM037")
    Etl.writeRdwRecords(df, path, spans, tail)
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".bin")).head.getPath))
    // records: 4+5+2, 4+5+0, 4+5+15 bytes — lengths INCLUDE the RDW
    assert(raw.length == 11 + 9 + 24, s"raw bytes: ${raw.length}")
    // first RDW: 0x000B 0x0000 (big-endian 11, reserved zeros)
    assert(raw.slice(0, 4).toSeq == Seq(0x00, 0x0B, 0x00, 0x00).map(_.toByte),
      raw.slice(0, 4).map(b => f"$b%02X").mkString(" "))
    // second record starts right after: its RDW says 9 (empty tail —
    // genuinely UNPADDED, the whole point of V-format)
    assert(raw.slice(11, 15).toSeq == Seq(0x00, 0x09, 0x00, 0x00).map(_.toByte))
    // tail bytes of record 1 are EBCDIC: 'A'=0xC1,'B'=0xC2
    assert(raw.slice(9, 11).toSeq == Seq(0xC1, 0xC2).map(_.toByte))
    val back = Etl.readRdwRecords(spark, path, spans, tail)
      .select(col("k").cast("long"), col("s"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, "AB"), (22L, ""), (333L, "a longer tail x")),
      s"round-trip: $back")
    // a record beyond the RDW's 32760-byte ceiling fails the write
    val exBig = intercept[Exception] {
      Etl.writeRdwRecords(
        df.withColumn("s", concat_ws("", (0 until 4000).map(_ => lit("0123456789")): _*)),
        s"${path}_big", spans, tail)
    }
    val msgs = Iterator.iterate(exBig: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("rdw overflow"), msgs)
    // corrupt framing (nonzero reserved byte) fails the READ fast —
    // length-chained framing cannot resync, unlike a bad span
    val corrupt = raw.clone(); corrupt(2) = 0x01
    val cdir = new java.io.File(s"${path}_corrupt"); cdir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${path}_corrupt/part-00000.bin"), corrupt)
    val exCorrupt = intercept[Exception] {
      Etl.readRdwRecords(spark, s"${path}_corrupt", spans, tail).count()
    }
    val msgs2 = Iterator.iterate(exCorrupt: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs2.contains("malformed RDW"), msgs2)
    // a tail-less layout must account for EVERY payload byte: reading
    // the tailed file with a no-tail layout is a layout mismatch, not
    // a "successful" truncated read
    val exExcess = intercept[Exception] {
      Etl.readRdwRecords(spark, path, spans, tail = None).count()
    }
    val msgs3 = Iterator.iterate(exExcess: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs3.contains("declares no variable tail"), msgs3)
  }

  test("RDWB blocked records: BDW framing byte-exact, multi-block round-trip, corruption and overflow fail fast") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_rdwbrec"
    val df = Seq((1L, "AB"), (22L, ""), (333L, "a longer tail x"))
      .toDF("k", "s")
      .select(col("k").cast(DecimalType(9, 0)).as("k"), col("s"))
    val spans = Seq(Etl.PackedSpan("k", 9, 0))
    val tail = Some("s" -> "IBM037")
    // blockBytes=28: records are 11, 9, 24 bytes — the first block
    // packs records 1+2 (4+11+9=24 ≤ 28, and +24 more would burst),
    // record 3 fills its own 28-byte block exactly
    Etl.writeRdwbRecords(df, path, spans, tail, blockBytes = 28)
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".bin")).head.getPath))
    assert(raw.length == 4 + 20 + 4 + 24, s"raw bytes: ${raw.length}")
    // first BDW: 0x0018 0x0000 (big-endian 24 = 4 + 11 + 9)
    assert(raw.slice(0, 4).toSeq == Seq(0x00, 0x18, 0x00, 0x00).map(_.toByte),
      raw.slice(0, 4).map(b => f"$b%02X").mkString(" "))
    // the first RDW follows immediately inside the block
    assert(raw.slice(4, 8).toSeq == Seq(0x00, 0x0B, 0x00, 0x00).map(_.toByte))
    // second BDW at offset 24: 0x001C (28 = 4 + 24)
    assert(raw.slice(24, 28).toSeq == Seq(0x00, 0x1C, 0x00, 0x00).map(_.toByte))
    val back = Etl.readRdwbRecords(spark, path, spans, tail)
      .select(col("k").cast("long"), col("s"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, "AB"), (22L, ""), (333L, "a longer tail x")),
      s"round-trip: $back")
    // a record too large for the block size fails the WRITE
    val exBig = intercept[Exception] {
      Etl.writeRdwbRecords(df, s"${path}_big", spans, tail, blockBytes = 20)
    }
    val msgs = Iterator.iterate(exBig: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("rdwb overflow"), msgs)
    // corrupt BDW (nonzero reserved byte) fails the READ fast
    val corruptB = raw.clone(); corruptB(2) = 0x01
    val cdir = new java.io.File(s"${path}_corrupt"); cdir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${path}_corrupt/part-00000.bin"), corruptB)
    val exB = intercept[Exception] {
      Etl.readRdwbRecords(spark, s"${path}_corrupt", spans, tail).count()
    }
    val msgsB = Iterator.iterate(exB: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgsB.contains("malformed BDW"), msgsB)
    // a BDW whose length leaves slack after the last record (an RDW
    // would have to straddle or descriptor-read garbage) fails fast
    val slack = raw.clone(); slack(1) = 0x19 // first block claims 25 bytes
    val sdir = new java.io.File(s"${path}_slack"); sdir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${path}_slack/part-00000.bin"),
      slack ++ Array[Byte](0)) // keep the stream long enough
    val exS = intercept[Exception] {
      Etl.readRdwbRecords(spark, s"${path}_slack", spans, tail).count()
    }
    val msgsS = Iterator.iterate(exS: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgsS.contains("malformed"), msgsS)
  }

  test("BinarySpan: COMP big-endian round-trip, IBM storage sizes, out-of-declaration magnitude decodes null") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_binspan"
    val df = Seq((1L, -1L, BigDecimal("123456789.01")),
        (9999L, 999999999L, BigDecimal("-999999999.99")))
      .toDF("a", "b", "c")
      .select(col("a").cast(DecimalType(4, 0)).as("a"),
        col("b").cast(DecimalType(9, 0)).as("b"),
        col("c").cast(DecimalType(11, 2)).as("c"))
    val spans = Seq(Etl.BinarySpan("a", 4, 0), Etl.BinarySpan("b", 9, 0),
      Etl.BinarySpan("c", 11, 2))
    assert(spans.map(_.bytes) == Seq(2, 4, 8), "halfword/fullword/doubleword")
    Etl.writeFixedRecords(df, path, spans)
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".bin")).head.getPath))
    assert(raw.length == 28, s"raw: ${raw.length}")
    // row 1: a=1 → 0x0001; b=-1 → 0xFFFFFFFF (two's complement)
    assert(raw.slice(0, 6).toSeq ==
      Seq(0x00, 0x01, 0xFF, 0xFF, 0xFF, 0xFF).map(_.toByte),
      raw.slice(0, 6).map(x => f"$x%02X").mkString(" "))
    val back = Etl.readFixedRecords(spark, path, spans)
      .select(col("a").cast("long"), col("b").cast("long"),
        col("c").cast("string"))
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, -1L, "123456789.01"),
      (9999L, 999999999L, "-999999999.99")), s"round-trip: $back")
    // poisoned-blob: a halfword holding 32767 under PIC S9(4) (max
    // 9999) decodes to NULL, not a wrong number and not a task failure
    val pdir = new java.io.File(s"${path}_poison"); pdir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${path}_poison/part-00000.bin"),
      Array[Byte](0x7F, 0xFF.toByte))
    val got = Etl.readFixedRecords(spark, s"${path}_poison",
      Seq(Etl.BinarySpan("a", 4, 0))).collect()
    assert(got.length == 1 && got.head.isNullAt(0), got.mkString(","))
  }

  test("parseCopybook: PIC clauses, usages, OCCURS, FILLER, groups, 88s; unsupported clauses fail by name") {
    import Etl._
    val cpy = """
      |      * CUSTOMER MASTER RECORD (comment line)
      |       01  CUST-REC.
      |           05  CUST-KEY        PIC S9(12)  COMP-3.
      |           05  FILLER          PIC X(2).
      |           05  CUST-NAME       PIC X(25).
      |           05  SEGMENT         PIC A(12).
      |           05  BALANCE         PIC S9(7)V99.
      |           05  SCORES          PIC S999 OCCURS 2 TIMES.
      |           05  FLAGS.
      |               10  ACTIVE      PIC X.
      |           88  IS-ACTIVE       VALUE 'Y'.
      |""".stripMargin
    assert(Etl.parseCopybook(cpy) == Seq(
      PackedSpan("CUST_KEY", 12, 0), CharSpan("filler_1", 2),
      CharSpan("CUST_NAME", 25), CharSpan("SEGMENT", 12),
      ZonedSpan("BALANCE", 9, 2),
      ZonedSpan("SCORES_1", 3, 0), ZonedSpan("SCORES_2", 3, 0),
      CharSpan("ACTIVE", 1)))
    // EBCDIC mode: text spans carry the codepage
    assert(Etl.parseCopybook("01 R. 05 NAME PIC X(5).", Some("IBM037")) ==
      Seq(EbcdicSpan("NAME", 5, "IBM037")))
    // USAGE IS PACKED-DECIMAL spelled out; shorthand digit runs
    assert(Etl.parseCopybook("05 AMT PIC S99V99 USAGE IS PACKED-DECIMAL.") ==
      Seq(PackedSpan("AMT", 4, 2)))
    // COMP/COMP-4/BINARY → big-endian BinarySpan (halfword/fullword/
    // doubleword per digit count); unsigned binary is fine
    assert(Etl.parseCopybook(
        "05 N1 PIC 9(4) COMP. 05 N2 PIC S9(9) BINARY. 05 N3 PIC S9(11)V9(2) COMP-4.") ==
      Seq(BinarySpan("N1", 4, 0), BinarySpan("N2", 9, 0), BinarySpan("N3", 13, 2)))
    // rejections fail by clause name, never a silent mis-parse
    def rejects(src: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException] { Etl.parseCopybook(src) }
      assert(e.getMessage.contains(needle), s"$src -> ${e.getMessage}")
    }
    // COMPUTATIONAL[-N] long synonyms normalize to COMP[-N] — a
    // COMPUTATIONAL-3 silently parsed as DISPLAY would shift every
    // later field
    assert(Etl.parseCopybook("05 AMT PIC S9(5) COMPUTATIONAL-3.") ==
      Seq(PackedSpan("AMT", 5, 0)))
    assert(Etl.parseCopybook("05 N PIC S9(4) COMPUTATIONAL.") ==
      Seq(BinarySpan("N", 4, 0)))
    rejects("05 A PIC 9(4) COMP-5.", "COMP-5")
    rejects("05 A PIC 9(4) COMP-1.", "COMP-1")
    rejects("05 A PIC 9(4) COMPUTATIONAL-2.", "COMP-2")
    rejects("05 A REDEFINES B PIC X(4).", "REDEFINES")
    rejects("05 T OCCURS 3 TIMES.", "OCCURS on a GROUP")
    rejects("05 T PIC X(4) OCCURS 3 TIMES DEPENDING ON N.", "DEPENDING")
    rejects("05 N PIC 9(3).", "unsigned DISPLAY")
    rejects("66 X RENAMES Y.", "RENAMES")
    rejects("05 E PIC ZZ9.99.", "unsupported PICTURE")
    // generated-name collisions fail fast BY NAME: OCCURS suffixing,
    // FILLER numbering, and '-'→'_' normalization share one namespace
    rejects("05 SCORES PIC X(2) OCCURS 2 TIMES. 05 SCORES-2 PIC X(3).",
      "SCORES_2")
    rejects("05 FILLER PIC X(2). 05 FILLER-1 PIC X(3).", "filler_1")
    rejects("05 A-B PIC X(2). 05 A_B PIC X(3).", "A_B")
  }

  test("imputeByGroupMedian: lower-middle medians fill nulls; empty groups keep nulls") {
    import org.apache.spark.sql.functions._
    // group a: values 1,3,5,9 (even n → LOWER middle = 3); group b:
    // values 7,7,8 (median 7); group c: nothing non-null
    val df = Seq(
      ("a", Some(1L)), ("a", Some(3L)), ("a", Some(5L)), ("a", Some(9L)),
      ("a", None), ("b", Some(7L)), ("b", Some(7L)), ("b", Some(8L)),
      ("b", None), ("c", None))
      .toDF("g", "v")
    val got = Etl.imputeByGroupMedian(df, "g", "v")
      .as[(String, Option[Long])].collect().sorted.toSeq
    assert(got == Seq(("a", Some(1L)), ("a", Some(3L)), ("a", Some(3L)),
      ("a", Some(5L)), ("a", Some(9L)), ("b", Some(7L)), ("b", Some(7L)),
      ("b", Some(7L)), ("b", Some(8L)), ("c", None)), got.toString)
    // the median table broadcasts onto the fill — never a shuffled join
    val p = Etl.imputeByGroupMedian(df, "g", "v")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("meltColumns: wide-to-long reshape is one map-only Expand pass; null values KEPT") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, 10.0, 20.0), (2L, 30.0, 40.0)).toDF("k", "a", "b")
    val long = Etl.meltColumns(df, Seq("k"), Seq("a", "b"))
    assert(long.columns.toSeq == Seq("k", "measure", "value"))
    assert(long.as[(Long, String, Double)].collect().sortBy(t => (t._1, t._2)).toSeq ==
      Seq((1L, "a", 10.0), (1L, "b", 20.0), (2L, "a", 30.0), (2L, "b", 40.0)))
    // plan: a single Expand, no shuffle — the reshape is map-only
    val p = long.queryExecution.executedPlan.toString
    assert(p.contains("Expand"), p)
    assert(!p.contains("Exchange"), s"melt must not shuffle:\n$p")
    // Dataset.unpivot KEEPS null values (unlike SQL UNPIVOT's
    // default EXCLUDE NULLS) — pin it so an engine change is caught
    val withNull = Seq((1L, Some(10.0), Option.empty[Double]))
      .toDF("k", "a", "b")
    assert(Etl.meltColumns(withNull, Seq("k"), Seq("a", "b")).count() == 2,
      "null measure values must survive the reshape")
  }

  test("compactParquet: sizes output from on-disk bytes, preserves the row multiset") {
    import org.apache.spark.sql.functions._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_compact"
    val frag = s"$base/frag"; val out = s"$base/out"
    spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(32).write.mode("overwrite").parquet(frag)
    val totalBytes = new java.io.File(frag).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // target slightly above a third of the bytes → exactly 3 files
    val (nIn, nOut) = Etl.compactParquet(spark, frag, out,
      targetBytes = totalBytes / 3 + 1)
    assert(nIn == 32 && nOut == 3, s"expected 32 -> 3 files, got $nIn -> $nOut")
    val outFiles = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(outFiles == 3, s"on-disk file count $outFiles != planned 3")
    val a = spark.read.parquet(frag).as[(Long, Long)].collect().sorted.toSeq
    val b = spark.read.parquet(out).as[(Long, Long)].collect().sorted.toSeq
    assert(a == b, "compaction must preserve the exact row multiset")
  }

  test("writeXml round-trips markup-significant characters and doubles") {
    import org.apache.spark.sql.functions._
    // <, >, & and quotes must survive entity-escaping; doubles must
    // round-trip via shortest-repr like the CSV path
    val df = Seq(
      (1L, "a<b & c>d", 12.5),
      (2L, "\"quoted\" 'text'", 0.1),
      (3L, "plain", -99.25)
    ).toDF("id", "v", "x")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_xml"
    Etl.writeXml(df, path)
    val back = spark.read.option("rowTag", "row")
      .schema("id BIGINT, v STRING, x DOUBLE")
      .format("xml").load(path)
      .as[(Long, String, Double)].collect().toSeq.sortBy(_._1)
    assert(back == Seq(
      (1L, "a<b & c>d", 12.5),
      (2L, "\"quoted\" 'text'", 0.1),
      (3L, "plain", -99.25)), s"got $back")
  }

  test("schemaDrift: added/removed/kept/type_changed classification, zero data jobs") {
    val a = Seq((1L, "x", 2.0)).toDF("id", "name", "score")
    val b = Seq((1L, 2, true)).toDF("id", "score", "flag")
    val got = Etl.schemaDrift(a, b)
      .as[(String, String)].collect().toSeq.sorted
    assert(got == Seq(
      ("flag", "added"), ("id", "kept"), ("name", "removed"),
      ("score", "type_changed")), s"got $got")
  }

  test("cdc table: ordered deltas land on the batch resolution; untouched buckets byte-identical; marker gates serving") {
    val proj = Tables.orders(spark, sf001)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    val base = proj.where(col("o_orderkey") % 7 =!= 0)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_cdc_${System.nanoTime()}"
    Etl.writeCdcTable(base, "o_orderkey", path, numBuckets = 16)
    def bucketFiles() = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet).toMap
    val before = bucketFiles()
    // a SPARSE delta (3 keys) so untouched buckets exist to assert on;
    // the driver gate covers the full change-log case
    val ch1 = proj.where(col("o_orderkey").isin(3L, 9L, 15L))
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("_seq", lit(1L)).withColumn("_op", lit("U"))
    val ch2 = proj.where(col("o_orderkey") === 9L)
      .withColumn("_seq", lit(2L)).withColumn("_op", lit("D"))
    Etl.applyCdcDelta(ch1, "o_orderkey", "_seq", "_op", path, numBuckets = 16)
    Etl.applyCdcDelta(ch2, "o_orderkey", "_seq", "_op", path, numBuckets = 16)
    val got = Etl.readCdcTable(spark, path)
      .as[(Long, String, String, Double)].collect().toSet
    val want = Etl.applyChangeLog(base, ch1.unionByName(ch2),
        Seq("o_orderkey"), "_seq", "_op")
      .as[(Long, String, String, Double)].collect().toSet
    assert(got == want, "ordered streaming deltas must equal one-shot batch resolution")
    assert(!got.exists(_._1 == 9L), "deleted key must be gone")
    // buckets no change key hashed into keep their files byte-for-byte
    val after = bucketFiles()
    val touched = after.keySet.filter(k => !before.contains(k) || after(k) != before(k))
    val untouched = before.keySet -- touched
    assert(untouched.nonEmpty, "fixture must leave some bucket untouched")
    untouched.foreach { k =>
      assert(after(k) == before(k), s"$k files must be byte-identical (not rewritten)")
    }
    assert(touched.size < before.size, "a sparse delta must not rewrite every bucket")
    // marker discipline: a marker-less table is a crashed maintenance
    // run and must refuse to serve
    val marker = new java.io.File(s"${path}_commit/_SUCCESS")
    assert(marker.exists())
    marker.delete()
    intercept[IllegalArgumentException] { Etl.readCdcTable(spark, path) }
  }

  test("routeRows: first failing rule attributes, flags record every violation, null predicates fall through") {
    val df = Seq(
      (1L, Some(5.0), Some(10L)),    // clean → valid
      (2L, Some(500.0), Some(99L)),  // fails BOTH → first rule wins, both flags set
      (3L, Some(5.0), None),         // missing prop → dead_letter
      (4L, Some(5.0), Some(99L))     // prop range only → quarantine
    ).toDF("id", "value", "k")
    val got = Etl.routeRows(df, "id", Seq(
        ("missing_prop", "dead_letter", col("k").isNull),
        ("value_outlier", "quarantine", col("value") > 190.0),
        ("prop_range", "quarantine", col("k") >= 95)))
      .orderBy("id")
      .select("id", "disposition", "reason", "rule_missing_prop",
        "rule_value_outlier", "rule_prop_range")
      .as[(Long, String, Option[String], Boolean, Boolean, Boolean)]
      .collect().toSeq
    assert(got(0) == ((1L, "valid", None, false, false, false)), got(0).toString)
    assert(got(1) == ((2L, "quarantine", Some("value_outlier"), false, true, true)),
      got(1).toString)
    assert(got(2) == ((3L, "dead_letter", Some("missing_prop"), true, false, false)),
      got(2).toString)
    assert(got(3) == ((4L, "quarantine", Some("prop_range"), false, false, true)),
      got(3).toString)
    intercept[IllegalArgumentException] {
      Etl.routeRows(df, "id", Seq(("x", "discard", col("k").isNull)))
    }
  }

  test("consistentShards: moved keys land ONLY on the new shard, movement is bounded") {
    val df = (1L to 2000L).toDF("id")
    val out = Etl.consistentShards(df, "id", nShards = 4, vnodes = 32)
      .select("key", "shard_before", "shard_after", "moved")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out.size == 2000 && out.map(_._1).distinct.size == 2000,
      "exactly one interval must match every key")
    // the defining property: old shards only SHRINK — a moved key's
    // new home is always the added shard, never a lateral move
    val moved = out.filter(_._4)
    assert(moved.nonEmpty && moved.forall(_._3 == 4L),
      s"lateral move detected: ${moved.filterNot(_._3 == 4L).take(3)}")
    assert(out.filterNot(_._4).forall(r => r._2 == r._3))
    // expected 1/(n+1) = 20%; allow generous vnode variance
    assert(moved.size.toDouble / out.size < 0.4, s"${moved.size} of 2000 moved")
    // all 4 old shards populated, and deterministic across partitionings
    assert(out.map(_._2).distinct.sorted == Seq(0L, 1L, 2L, 3L))
    val again = Etl.consistentShards(df.repartition(7), "id", 4, 32)
      .select("key", "shard_before").as[(Long, Long)].collect().toMap
    assert(again == out.map(r => r._1 -> r._2).toMap)
  }

  test("inferTypes: strictest covering type per column; one stray letter demotes") {
    val df = Seq(
      ("1", "1.5", "true", "2024-01-02 10:00:00", "abc", null.asInstanceOf[String]),
      ("22", "2", "FALSE", "2024-02-03", "42", null.asInstanceOf[String]),
      ("-3", "3.25e2", "true", "2024-03-04T05:06:07.5", "9x", null.asInstanceOf[String])
    ).toDF("ints", "mixed_num", "bools", "dates", "dirty", "empty")
    val got = Etl.inferTypes(df,
        Seq("ints", "mixed_num", "bools", "dates", "dirty", "empty"))
      .select("col_name", "inferred_type", "n_other")
      .as[(String, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("ints") == (("bigint", 0L)), s"$got")
    // ints are acceptable doubles: int+float covers all non-null
    assert(got("mixed_num") == (("double", 0L)), s"$got")
    assert(got("bools") == (("boolean", 0L)), s"$got")
    assert(got("dates") == (("timestamp", 0L)), s"$got")
    // "42" is int-like but "abc"/"9x" demote the column to varchar
    assert(got("dirty") == (("varchar", 2L)), s"$got")
    assert(got("empty") == (("unknown", 0L)), s"$got")
  }
}
