package etlbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Entry point of the benchmark JVM.
  *
  *  - `--mode run`: set up one workload, then a closed loop with one
  *    client: a cold first pass, the workload's warm-up passes, then warm
  *    passes back to back until `--seconds` have passed (at least two).
  *    Prints a `RESULT {json}` line.
  *  - `--mode selftest`: every output check on real outputs, then on
  *    deliberately corrupted ones.
  *  - `--mode stub`: the OData server's child JVM ([[StubMain]]).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    o("mode") match {
      case "stub" => StubMain.run(o)
      case "selftest" => sys.exit(selfTest(new File(o("work"))))
      case "run" => run(o)
    }
  }

  /** `threw`: the pass or the reading of its outputs raised, so its
    * checks could not run.
    */
  private final case class PassRec(seconds: Double, figures: Map[String, Double], checks: Seq[Check],
                                   threw: Boolean)

  def run(o: Map[String, String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(o("work"))
    // set-up = a session, then the workload's inputs and server. It is
    // done SetupRounds times, each round replacing the last. The first
    // round also pays the JVM's start and class loading (setup.cold_s);
    // setup_s is the median of the rounds after it.
    var spark: SparkSession = null
    var built: Workload = null
    val rounds = (0 until SetupRounds).map { i =>
      if (built != null) { built.close(); built.deleteWork(); spark.stop() }
      val t0 = System.nanoTime()
      spark = Session.create(work)
      val t1 = System.nanoTime()
      built = Workload(o("workload"), spark, new File(work, s"setup$i"), o("seed").toLong, small = false)
      built.setup()
      val t2 = System.nanoTime()
      if (i == 0) (0.0, (t2 - t1) / 1e9, (System.currentTimeMillis() - jvmStart) / 1000.0)
      else ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t2 - t0) / 1e9)
    }
    val w = built
    val sc = spark.sparkContext
    val warmRounds = rounds.tail
    val setupS = median(warmRounds.map(_._3))
    val traced = o("trace") == "1"
    val meter = new Meter
    sc.addSparkListener(meter)
    val tracer = new Tracer(traced, () => w.counters())
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())

    def onePass(i: Int): PassRec = {
      BenchBus.drain(sc)
      meter.clear()
      tracer.pass = i
      val c0 = w.counters()
      val cg0 = CodeGenerator.compileTime
      val cpu0 = os.getProcessCpuTime
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      val err = try { tracer("pass")(w.pass(tracer)); None } catch { case e: Exception => Some(e) }
      val seconds = (System.nanoTime() - ns0) / 1e9
      val ms1 = System.currentTimeMillis()
      val cpu1 = os.getProcessCpuTime
      val cg1 = CodeGenerator.compileTime
      BenchBus.drain(sc)
      val c1 = w.counters()
      // per call: wall time, jobs, and the outside counters it moved
      val calls = tracer.spans.filter(s => s.pass == i && s.name != "pass").flatMap { s =>
        Seq(s"${s.name}_s" -> s.seconds, s"${s.name}.jobs" -> meter.jobsIn(s.startMs, s.endMs).toDouble) ++
          s.counters.get("requests").map(r => s"${s.name}_requests" -> r)
      }
      val base = meter.window(ms0, ms1) ++ calls ++
        c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) } ++ Map(
          "spark.codegen_compile_s" -> (cg1 - cg0) / 1e9,
          "jvm.cpu_s" -> (cpu1 - cpu0) / 1e9)
      val (figures, checks, threw) = err match {
        case Some(e) =>
          e.printStackTrace()
          (base, Seq(Check("pass", ok = false, e.toString)), true)
        case None =>
          try {
            val out = w.outputs()
            (base ++ w.figures(out), w.checks(out), false)
          } catch {
            case e: Exception => e.printStackTrace(); (base, Seq(Check("outputs", ok = false, e.toString)), true)
          }
      }
      w.afterPass()
      System.gc()
      PassRec(seconds, figures, checks, threw)
    }

    // the passes after the cold one still run largely interpreted code;
    // they are checked and counted but not timed into pass_s
    val first = onePass(0)
    val warmups = (1 to w.warmupPasses).map(onePass)
    val warm = ArrayBuffer.empty[PassRec]
    val t0 = System.nanoTime()
    while (warm.size < 2 || System.nanoTime() - t0 < o("seconds").toDouble * 1e9)
      warm += onePass(warm.size + 1 + w.warmupPasses)
    val peakHeap = heapPools.map(_.getPeakUsage.getUsed).sum
    w.close()
    // Spark's ContextCleaner drops broadcast and shuffle state only after
    // a GC has cleared the references to it; give it a second, then GC again
    System.gc()
    Thread.sleep(1000)
    System.gc()
    System.gc()
    val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    val all = (first +: warmups) ++ warm.toSeq
    val mb = 1024.0 * 1024.0
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> median(warm.map(_.seconds).toSeq),
      "retained_heap_mb" -> retained / mb)
    val keys = warm.flatMap(_.figures.keys).distinct
    val layers = keys.map(k => k -> median(warm.map(_.figures.getOrElse(k, 0.0)).toSeq)).toMap ++ Map(
      "first_pass_s" -> first.seconds,
      "spark.codegen_compile_s" -> first.figures("spark.codegen_compile_s"),
      "jvm.peak_heap_mb" -> peakHeap / mb,
      "setup.cold_s" -> rounds.head._3,
      "setup.session_s" -> median(warmRounds.map(_._1)),
      "setup.inputs_s" -> median(warmRounds.map(_._2))) ++
      (if (traced) Map("traced_pass_s" -> e2e("pass_s")) else Map.empty)
    // every figure of every pass must repeat for a count to be exact
    val countKeys = keys.filter(k => k.endsWith("requests") || k.endsWith("_pairs") || k == "output_mb" ||
      k.endsWith(".jobs") || k == "spark.jobs" || k == "spark.stages" || k == "spark.tasks")
    val unsteady = countKeys.filter(k => all.map(_.figures.getOrElse(k, 0.0)).distinct.size > 1)
      .map(k => k -> all.map(_.figures.getOrElse(k, 0.0)))

    val checkNames = all.flatMap(_.checks.map(_.name)).distinct
    val failed = all.count(_.checks.exists(!_.ok))
    for (n <- checkNames) {
      val results = all.flatMap(_.checks.find(_.name == n))
      val bad = results.filterNot(_.ok)
      println(f"check $n%-28s ${if (bad.isEmpty) "pass" else "FAIL"} (${results.size - bad.size}/${results.size} passes)" +
        bad.headOption.map(b => s" ${b.detail}").getOrElse(""))
    }
    if (traced) {
      val f = new File(work, "spans.jsonl")
      val pw = new PrintWriter(f, "UTF-8")
      try tracer.spans.foreach { s =>
        pw.println(s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "pass": ${s.pass}, """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "seconds": ${s.seconds}}""")
      } finally pw.close()
    }
    def obj(m: Iterable[(String, Double)]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    println("RESULT {" + Seq(
      s""""workload": "${o("workload")}"""",
      s""""attempted": ${all.size}""",
      s""""failed": $failed""",
      // a pass that threw makes the run incorrect too: its outputs
      // could not be checked
      s""""correct": ${all.forall(p => !p.threw && p.checks.forall(_.ok))}""",
      s""""checks": ${checkNames.map(n => s""""$n"""").mkString("[", ", ", "]")}""",
      s""""e2e": ${obj(e2e)}""",
      s""""layers": ${obj(layers)}""",
      s""""pass_seconds": ${all.map(_.seconds).mkString("[", ", ", "]")}""",
      s""""setup_rounds": ${rounds.map { case (a, b, c) => s"[$a, $b, $c]" }.mkString("[", ", ", "]")}""",
      s""""unsteady_counts": ${unsteady.map { case (k, vs) => s""""$k": ${vs.mkString("[", ", ", "]")}""" }.mkString("{", ", ", "}")}"""
    ).mkString(", ") + "}")
    spark.stop()
  }

  val SetupRounds = 6

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Each check must pass on the program's real output (small inputs)
    * and fail once that output is corrupted. Returns the exit code.
    */
  def selfTest(work: File): Int = {
    val spark = Session.create(work)
    var ok = true
    for (name <- Workload.Names) {
      val w = Workload(name, spark, new File(work, name), seed = 7L, small = true)
      w.setup()
      w.pass(new Tracer(false, () => Map.empty))
      val out = w.outputs()
      for (c <- w.checks(out)) {
        println(f"selftest $name%-14s ${c.name}%-26s real output        -> ${if (c.ok) "pass" else "FAIL " + c.detail}")
        ok &&= c.ok
      }
      for ((what, target, corrupt) <- w.corruptions) {
        val c = w.checks(corrupt(out)).find(_.name == target).get
        println(f"selftest $name%-14s ${c.name}%-26s $what%-18s -> ${if (c.ok) "NOT DETECTED" else "detected: " + c.detail}")
        ok &&= !c.ok
      }
      w.afterPass()
      w.close()
    }
    spark.stop()
    println(if (ok) "selftest: every check passes on real output and fails on corrupted output"
            else "selftest: FAILED")
    if (ok) 0 else 1
  }
}
