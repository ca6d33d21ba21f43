package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Minimal JSON writing for the run report. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def nums(m: Seq[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
}

/** One benchmark run in one JVM: set up, run the check pass (cold,
  * outputs to parquet), then a fixed number of timed passes, and write a
  * JSON report. With `--setup-only 1` the JVM only sets up and reports the
  * set-up time: the harness launches such JVMs to take the median of
  * several cold set-ups.
  *
  * Arguments (all required): --workload --data --work --out --cpus
  * --timed --trace 0|1 --setup-only 0|1 --launch-ms
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = o("cpus").toInt
    val work = o("work")
    val spark = session(cpus, work)
    val wl = Workload(o("workload"), spark, o("data"))
    wl.register()
    // From the JVM's launch until the session is up and the inputs are registered.
    val setupS = (System.currentTimeMillis() - o("launch-ms").toLong) / 1e3
    System.err.println(s"[perfbench] set-up $setupS s")
    val report =
      if (o("setup-only") == "1") Json.obj(Seq("setup_s" -> Json.num(setupS)))
      else run(spark, wl, setupS, cpus, o("trace") == "1", o("timed").toInt, s"$work/check")
    Files.writeString(Paths.get(o("out")), report)
    spark.stop()
  }

  /** The session `graft.Bench` builds, with every file Spark writes kept
    * under the run's work directory. Spark's codegen cache stays at its
    * default size, as in every session of the program.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "524288")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Pass(wallS: Double, cpuS: Double, ops: Ops, layers: Map[String, Double])

  def run(spark: SparkSession, wl: Workload, setupS: Double, cpus: Int, traced: Boolean,
      timedPasses: Int, checkDir: String): String = {
    val listener = if (traced) {
      val l = new TaskListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None

    def pass(kind: String, sink: Sink): Pass = {
      val ops = new Ops
      listener.foreach { l => PerfbenchBus.drain(spark.sparkContext); l.take(0, 0) }
      val a = Jvm.snap()
      wl.pass(ops, sink)
      val d = Jvm.snap() - a
      val layers = mutable.LinkedHashMap[String, Double](
        "codegen.compiles" -> d.compiles.toDouble,
        "jvm.jit_s" -> d.jitMs / 1e3,
        "jvm.classes_loaded" -> d.classes.toDouble,
        "jvm.gc_s" -> d.gcMs / 1e3)
      listener.foreach { l =>
        PerfbenchBus.drain(spark.sparkContext)
        val s = l.take(a.wallMs, a.wallMs + d.wallMs)
        layers ++= Seq(
          "spark.jobs" -> s.jobs.toDouble,
          "spark.stages" -> s.stages.toDouble,
          "spark.tasks" -> s.tasks.toDouble,
          "spark.task_s" -> s.taskMs / 1e3,
          "spark.task_cpu_s" -> s.taskCpuNs / 1e9,
          "spark.task_gc_s" -> s.taskGcMs / 1e3,
          "spark.busy_share" -> s.taskMs / (d.wallMs.max(1L) * cpus.toDouble),
          "spark.skew_max" -> s.skewMax,
          "spark.driver_s" -> (d.wallMs - s.jobBusyMs).max(0L) / 1e3,
          "spark.input_mb" -> s.inputBytes / 1048576.0,
          "spark.shuffle_write_mb" -> s.shuffleWriteBytes / 1048576.0,
          "spark.shuffle_read_mb" -> s.shuffleReadBytes / 1048576.0,
          "spark.spill_mb" -> s.spillBytes / 1048576.0)
      }
      for ((name, ts) <- ops.times) layers(name) = ts.sum
      val p = Pass(d.wallNs / 1e9, d.cpuNs / 1e9, ops, layers.toMap)
      val opLine = ops.times.map { case (n, ts) => f"$n=${ts.sum}%.2f" }.mkString(" ")
      System.err.println(f"[perfbench] $kind pass wall ${p.wallS}%.3f s cpu ${p.cpuS}%.3f s: $opLine")
      p
    }

    // The cold first pass writes the outputs the correctness check reads.
    val checkPass = pass("check", new ParquetSink(checkDir))
    Workload.writeOracles(checkDir, wl.oracles)
    val steal0 = Steal.read()
    val timed = (1 to timedPasses).map(_ => pass("timed", NoopSink))
    val steal = Steal.share(steal0, Steal.read())
    val heapMb = Jvm.heapAfterGcMb()
    val after = if (traced) wl.layers() else Nil

    def med(f: Pass => Double): Double = Workload.median(timed.map(f))
    val e2e = Seq(
      "cpu_s" -> med(_.cpuS),
      "heap_retained_mb" -> heapMb)
    val layers = timed.flatMap(_.layers.keys).distinct.map(n => n -> med(_.layers(n))) ++
      after ++ Seq(
        "run.pass_s" -> med(_.wallS),
        "run.pass0_s" -> checkPass.wallS,
        "host.steal_share" -> steal)
    // Operations of the timed passes, and how many of them threw.
    val names = timed.flatMap(_.ops.times.keys).distinct
    def perOp(f: (Ops, String) => Int): String =
      Json.obj(names.map(n => n -> timed.map(p => f(p.ops, n)).sum.toString))
    Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "e2e" -> Json.nums(e2e),
      "layers" -> Json.nums(layers.toSeq),
      "attempted" -> perOp((o, n) => o.times(n).size + o.failed.getOrElse(n, 0)),
      "failed" -> perOp((o, n) => o.failed.getOrElse(n, 0)),
      // Operations of the check pass that threw: their outputs were not written.
      "check_failed" -> checkPass.ops.failed.keys.map(Json.str).mkString("[", ",", "]"),
      "timed_pass_s" -> Json.arr(timed.map(_.wallS)),
      "timed_cpu_s" -> Json.arr(timed.map(_.cpuS)),
      "steal_share" -> Json.num(steal)))
  }
}
