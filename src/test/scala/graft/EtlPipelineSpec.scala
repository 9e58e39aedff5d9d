package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.operators.Etl
import graft.sources.odata.testkit.ODataStubServer

class EtlPipelineSpec extends SparkSpec {

  private def config(srv: ODataStubServer, out: String,
                     codesEntity: Option[String] = None) = EtlPipeline.Config(
    baseUrl = srv.url, servicePath = "svc", entity = "Employees",
    selectFields = Seq("TEMPLOYEE_UUID", "CEMPLOYEE_UUID"),
    structureCandidates = Seq("COCHAR_STRUCTURE", "C0CHAR_STRUCTURE"),
    renameMap = Map(
      "TEMPLOYEE_UUID" -> "Employee", "CEMPLOYEE_UUID" -> "EmployeeID",
      "C0CHAR_STRUCTURE" -> "Structure"),
    expectedOrder = Seq("Employee", "EmployeeID", "Structure"),
    outputPath = out,
    codesEntity = codesEntity)

  private def employees(n: Int, structures: Int): Seq[Map[String, String]] =
    (0 until n).map(i => Map(
      "TEMPLOYEE_UUID" -> s"Emp $i", "CEMPLOYEE_UUID" -> i.toString,
      "C0CHAR_STRUCTURE" -> s"S${i % structures}"))

  private def outDir(): String =
    java.nio.file.Files.createTempDirectory("graft_pipe").toString + "/csv"

  private def awaitUntil(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    assert(cond, s"timed out waiting for $what")
  }

  /** Collects the empty-result guard's warnings. The guard reports
    * when Spark's listener thread handles the end of the observing
    * action, and it handles them in action order, so once [[drain]]'s
    * own empty frame has warned, every earlier action has reported.
    */
  private class Warnings {
    @volatile var seen: Vector[String] = Vector.empty
    val log: String => Unit = m => synchronized { seen :+= m }

    /** The warnings of every action completed so far. */
    def drain(): Vector[String] = {
      import spark.implicits._
      val marker = new java.util.concurrent.atomic.AtomicBoolean
      Etl.emptyGuard(Seq.empty[Int].toDF("a"), _ => marker.set(true)).collect()
      awaitUntil("the marker's empty-result warning")(marker.get)
      seen
    }
  }

  test("full pipeline: odata stub → connector → transforms → duplicate-name CSV") {
    // both structure candidates present in the data; the probe picks
    // C0CHAR (COCHAR 404s), and the rename maps BOTH to "Structure"
    val rows = (0 until 6).map { i =>
      Map(
        "TEMPLOYEE_UUID" -> s"Emp ${i / 2}", // dups after projection
        "CEMPLOYEE_UUID" -> (i / 2).toString,
        "C0CHAR_STRUCTURE" -> s"S${i % 2}")
    }
    val srv = new ODataStubServer(rows, "C0CHAR_STRUCTURE").start()
    val out = outDir()
    val warnings = new Warnings
    try {
      EtlPipeline.run(spark, config(srv, out), warnings.log)
      val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
      assert(files.length == 1)
      val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
      assert(lines.head == "Employee,EmployeeID,Structure")
      // 3 distinct employees × 2 structures = 6 distinct rows
      assert(lines.size == 7)
      // R10: a non-empty run never warns
      assert(warnings.drain().isEmpty)
    } finally srv.stop()
  }

  test("transform sends no request and runs no job; a run reads each codes page once") {
    // 5 codes served 2 per page by a separate codes entity: 3 pages
    val codes = (0 until 5).map(i => Map("C0CHAR_STRUCTURE" -> s"S$i"))
    val srv = new ODataStubServer(employees(12, 5), "C0CHAR_STRUCTURE",
      serverPageSize = 2, extraEntities = Map("Codes" -> codes)).start()
    val cfg = config(srv, outDir(), codesEntity = Some("Codes"))
    // job starts reach the listener asynchronously but in submission
    // order: the jobs between two marker jobs are the ones transform ran
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("job"))
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val extracted = EtlPipeline.extract(spark, cfg)
      val before = srv.clientRequests.get
      marker("before transform")
      EtlPipeline.transform(extracted, cfg)
      marker("after transform")
      assert(srv.clientRequests.get == before, srv.requestLog.mkString("\n"))
      awaitUntil("the marker job")(jobs.contains("after transform"))
      val seen = jobs.toArray(Array.empty[String]).toSeq
      assert(seen.dropWhile(_ != "before transform") == Seq("before transform", "after transform"))

      srv.requestLog = Vector.empty
      EtlPipeline.run(spark, cfg)
      // the codes enumeration, not the structure-candidate probes ($top=1)
      val codesPages = srv.requestLog.filter(u =>
        new java.net.URI(u).getPath.endsWith("/Codes") && !u.contains("%24top=1&"))
      assert(codesPages.size == 3 && codesPages.distinct.size == 3, codesPages.mkString("\n"))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      srv.stop()
    }
  }

  /** Runs the pipeline on 4 employees with structures S0/S1 and a
    * codes entity holding `codes`: the scan's partition count and the
    * run's warnings.
    */
  private def runWithCodes(codes: Seq[String]): (Int, Vector[String]) = {
    val srv = new ODataStubServer(employees(4, 2), "C0CHAR_STRUCTURE",
      extraEntities = Map("Codes" -> codes.map(v => Map("C0CHAR_STRUCTURE" -> v)))).start()
    val out = outDir()
    val warnings = new Warnings
    try {
      val cfg = config(srv, out, codesEntity = Some("Codes"))
      val partitions = EtlPipeline.extract(spark, cfg).rdd.getNumPartitions
      EtlPipeline.run(spark, cfg, warnings.log)
      assert(new java.io.File(out, "_SUCCESS").exists)
      (partitions, warnings.drain())
    } finally srv.stop()
  }

  test("R10: a codes entity with no values plans zero partitions, and the run warns") {
    val (partitions, warned) = runWithCodes(Nil)
    assert(partitions == 0)
    assert(warned.map(_.contains("empty result")) == Vector(true))
  }

  test("R10: codes whose chains are all empty warn (empty only at runtime)") {
    // the codes exist, so the scan has partitions, but no employee
    // carries them: every chain answers empty and AQE prunes the
    // stages below the dedup aggregate
    val (partitions, warned) = runWithCodes(Seq("S7", "S8"))
    assert(partitions > 0)
    assert(warned.map(_.contains("empty result")) == Vector(true))
  }

  test("emptyGuard warns and passes through an empty frame (R10)") {
    import spark.implicits._
    val warnings = new Warnings
    val nonEmpty = Etl.emptyGuard(Seq((1, "x")).toDF("a", "b"), warnings.log)
    val empty = Etl.emptyGuard(Seq.empty[(Int, String)].toDF("a", "b"), warnings.log)
    // lazy: the guard reports only once an action on the frame completes
    assert(nonEmpty.collect().length == 1)
    assert(empty.collect().isEmpty)
    // one warning: the empty frame's
    assert(warnings.drain().map(_.contains("empty result")) == Vector(true))
  }
}
