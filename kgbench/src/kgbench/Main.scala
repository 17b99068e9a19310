package kgbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** The KG-build benchmark: one closed-loop client, one operation at a
  * time on local[nproc].
  *
  *   kgbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints a context line (host, per-operation walls, steal, errors) and,
  * last, one result line {correct, attempted, failed, metrics}. With
  * --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
  * is the separate traced run, and the metrics are the per-layer ones. */
object Main {

  /** Set-up repetitions whose median is `setup_s`. */
  val SetupReps = 5
  /** The loop runs at least this many timed operations. */
  val MinOps = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def newSession(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bytes of every regular file under `f`. */
  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum

  /** /proc/stat aggregate cpu line: (steal, total) jiffies. */
  def stealJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val traceOut = opts.get("trace-out")
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = newSession(cpus, work)
    val probe = Probe.install(spark)
    val w = Workloads(workload, spark, seed)

    // ---- set-up, repeated; the last repetition's inputs are used
    val setupS = (1 to (if (trace) 1 else SetupReps)).map { r =>
      val d = s"$work/setup$r"
      val t0 = System.nanoTime()
      w.setup(d)
      val s = (System.nanoTime() - t0) / 1e9
      if (w.dir != null) org.apache.commons.io.FileUtils.deleteQuietly(new File(w.dir))
      w.dir = d
      s
    }
    val prepT0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - prepT0) / 1e9

    final case class OpRec(wall: Double, out: Option[OpOut], sums: Probe.Sums,
        stealPct: Double, scratchMb: Double, error: Option[String])
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    val loopT0 = System.nanoTime()
    val opLimit = if (trace) 1 else Int.MaxValue
    while (ops.size < opLimit &&
        (ops.size < MinOps || (System.nanoTime() - loopT0) / 1e9 < seconds)) {
      val (st0, tot0) = stealJiffies()
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(w.op()) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      val (st1, tot1) = stealJiffies()
      val sums = probe.window(spark, t0ms, t1ms)
      val scratch = bytesUnder(new File(w.workDir)) / 1048576.0
      val checked = res.flatMap(out => try { w.check(); Right(out) } catch { case e: Throwable => Left(e) })
      val steal = if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0
      ops += OpRec(wall, checked.toOption, sums, steal, scratch,
        checked.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

    val good = ops.filter(_.error.isEmpty)
    // the traced run's own output checks count like an operation's
    val (traced, traceError) =
      if (!trace || good.isEmpty) (None, None)
      else try (Some(Trace.run(spark, probe, w, good.head.wall, good.head.sums, traceOut)), None)
      catch { case e: Throwable => (None, Some(s"trace: ${e.getClass.getSimpleName}: ${e.getMessage}")) }
    val failed = ops.size - good.size + traceError.size
    val metrics: Seq[(String, Double, String)] = traced.getOrElse {
      def med(f: OpRec => Double) = median(good.map(f).toSeq)
      Seq(
        ("setup_s", median(setupS), "s"),
        ("docs_per_s", med(o => o.out.get.docs / o.wall), "1/s"),
        ("triples_per_s", med(o => o.out.get.triples / o.wall), "1/s"),
        ("mentions_per_s", med(o => o.out.get.mentions / o.wall), "1/s"),
        ("fold_s", med(_.out.get.foldS), "s"),
        ("cpu_s_per_kdoc", med(o => o.sums.cpuS * 1000.0 / o.out.get.docs), "s"),
        ("scratch_peak_mb", good.map(_.scratchMb).maxOption.getOrElse(0.0), "MB"))
    }

    val context = Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "nproc" -> cpus, "master" -> spark.sparkContext.master,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "setup_s_reps" -> setupS, "prepare_s" -> prepareS,
      "op_wall_s" -> ops.map(_.wall), "steal_pct" -> ops.map(_.stealPct),
      "op_cpu_s" -> ops.map(_.sums.cpuS),
      "op_peak_heap_after_gc_mb" -> ops.map(_.sums.heapAfterGcMb),
      "fold_s" -> good.map(_.out.get.foldS),
      "errors" -> (ops.flatMap(_.error) ++ traceError))
    println(Json.obj(Seq("context" -> Json.Raw(Json.obj(context)))))

    spark.stop()
    val result = Json.obj(Seq(
      "correct" -> (failed == 0 && good.nonEmpty),
      "attempted" -> (ops.size + (if (trace) 1 else 0)),
      "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }))))
    println(result)
  }
}
