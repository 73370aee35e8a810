package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.jobs.BagIngest
import graft.multimodal.PngDecoder

/** The benchmark's JVM side: builds the session, times a workload in a
  * closed loop (one client, `local[4]`), checks its outputs and writes one
  * JSON result. `perfbench/run.py` builds, generates the query lake, runs
  * this and prints the final line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *          --out FILE [--lake DIR]
  */
object Main {

  val Cores = 4
  val Setups = 3

  /** The query workload's mix: reference-domain, relational and heavy
    * (ANN search, an iterative driver loop) queries, sized so one pass
    * takes a few seconds at `local[4]`. */
  val Mix: Seq[String] = Seq(
    "q20_frame_index", "q21_sessionize", "q105_audio_spectral", "q01_pricing_summary",
    "q07_window_rank", "q70b_knn_ivfpq", "q88_bpe_train")

  val IngestTables: Seq[String] = Seq("images", "laser", "odometry", "wrench", "std_msgs",
    "clips", "generic", "manifest", "trajectory", "png")

  /** One timed pass: its wall and process-CPU seconds, the latency of each
    * operation in it, and the JIT-compile and GC seconds spent during it. */
  final case class Pass(wall: Double, cpu: Double, ops: Seq[(String, Double)], failed: Int,
      span: Option[Span], opSpans: Seq[Span], jit: Double, gc: Double)

  /** What a workload does; the timing loop around it is shared. */
  trait Workload {
    /** Light warm-up of a fresh session: touches the inputs. */
    def warmup(spark: SparkSession): Unit
    /** The first pass, whose outputs [[check]] verifies. */
    def first(spark: SparkSession): Seq[(String, () => Unit)]
    /** The named operations of timed pass `n`, in the order they run. */
    def pass(spark: SparkSession, n: Int): Seq[(String, () => Unit)]
    /** Problems found in the first pass's outputs. */
    def check(spark: SparkSession): Seq[String]
    def probes(minSeconds: Double): Map[String, Double]
    def bagBytes: Long
  }

  private def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Seconds spent so far compiling (JIT) and collecting garbage. */
  private def jitGcS: (Double, Double) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    (ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3)
  }

  private[perfbench] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def session(work: File): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Release what a call left cached, so calls do not see each other's
    * caches. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  // ---- ingest ----

  final class Ingest(m: BagGen.Manifest, work: File) extends Workload {
    private val checked = new File(work, "checked-out")
    private val out = new File(work, "ingest-out")
    def bagBytes: Long = m.bagBytes

    private def regions(spark: SparkSession, man: BagGen.Manifest): DataFrame = {
      import spark.implicits._
      val dir = man.bags.head.getParentFile.getAbsolutePath
      man.frames.flatMap(f => f.box.map { case (x, y, w, h) =>
        (s"file:$dir/${f.bag}", f.topic, f.timeNs, x, y, w, h) })
        .toDF("bag", "topic", "time_ns", "region_x", "region_y", "region_w", "region_h")
    }

    private def ingest(spark: SparkSession, man: BagGen.Manifest, dir: File): Unit = {
      deleteTree(dir)
      BagIngest.run(spark, s"${man.bags.head.getParentFile.getAbsolutePath}/*.bag",
        dir.getAbsolutePath, writePng = true, Some(regions(spark, man)))
    }

    def warmup(spark: SparkSession): Unit =
      spark.read.format("binaryFile").load(m.bags.head.getParentFile.getAbsolutePath)
        .select("path", "length").collect()

    def first(spark: SparkSession): Seq[(String, () => Unit)] =
      Seq("bag_ingest" -> (() => ingest(spark, m, checked)))

    def pass(spark: SparkSession, n: Int): Seq[(String, () => Unit)] =
      Seq("bag_ingest" -> (() => ingest(spark, m, out)))

    def check(spark: SparkSession): Seq[String] = {
      val problems = mutable.ArrayBuffer.empty[String]
      m.tableRows.foreach { case (t, n) =>
        val got = Try(spark.read.parquet(new File(checked, t).getPath).count()).getOrElse(-1L)
        if (got != n) problems += s"table $t: $got rows, expected $n"
      }
      val nFrames = spark.read.parquet(new File(checked, "manifest").getPath)
        .select("bag", "topic", "n_frames").distinct().collect()
        .map(r => (r.getString(0).split('/').last, r.getString(1)) -> r.getLong(2)).toMap
      if (nFrames != m.framesPerTopic) problems += s"manifest n_frames $nFrames, expected ${m.framesPerTopic}"
      val root = new File(checked, "png").toPath
      val files = if (!Files.isDirectory(root)) Set.empty[String] else {
        val w = Files.walk(root)
        try w.filter(Files.isRegularFile(_)).map[String](p => root.relativize(p).toString)
          .toArray.map(_.toString).toSet
        finally w.close()
      }
      val expected = m.frames.map(_.fileName).toSet
      if (files != expected)
        problems += s"png: ${files.size} files, expected ${expected.size}; " +
          s"missing ${(expected -- files).take(3)}, unexpected ${(files -- expected).take(3)}"
      implicit val ec: ExecutionContext = ExecutionContext.global
      problems ++= Await.result(Future.traverse(m.frames.filter(f => files(f.fileName))) { f =>
        Future {
          val d = PngDecoder.decode(Files.readAllBytes(root.resolve(f.fileName)))
          val same = d.width == f.width && d.height == f.height &&
            java.util.Arrays.equals(d.pixels, f.pixels)
          if (f.box.isEmpty && !same) Some(s"${f.fileName}: pixels differ from the source frame")
          else if (f.box.nonEmpty && same) Some(s"${f.fileName}: blur region left the frame unchanged")
          else None
        }
      }, Duration.Inf).flatten
      problems.toSeq
    }

    def probes(minSeconds: Double): Map[String, Double] =
      Probes.rosbag(m.bags, minSeconds) ++ Probes.multimodal(m.frames.take(48), minSeconds)
  }

  // ---- queries ----

  final class Queries(lake: String, seed: Long, work: File) extends Workload {
    private val dir = new File(work, "check")
    def bagBytes: Long = 0L
    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    private def order(n: Int): Seq[String] = new scala.util.Random(seed * 7919 + n).shuffle(Mix)

    def warmup(spark: SparkSession): Unit =
      Seq("lineitem", "events", "documents")
        .foreach(t => spark.read.parquet(s"$lake/$t.parquet").count())

    /** Each query's result as parquet, for run.py's DuckDB comparison. */
    def first(spark: SparkSession): Seq[(String, () => Unit)] = {
      deleteTree(dir); dir.mkdirs()
      order(0).map(q => q -> (() =>
        SparkEntry.queries(q)(spark, lake).coalesce(1).write.parquet(new File(dir, q).getPath)))
    }

    /** The mix in a seeded order, each query through a full-materialisation
      * sink (`count()` would let Catalyst prune unused columns). */
    def pass(spark: SparkSession, n: Int): Seq[(String, () => Unit)] =
      order(n).map(q => q -> (() => noop(SparkEntry.queries(q)(spark, lake))))

    /** Writes the oracle SQL next to the results; run.py compares them. */
    def check(spark: SparkSession): Seq[String] = {
      val sql = SparkEntry.oracleSql.filter(kv => Mix.contains(kv._1))
      Files.writeString(new File(dir, "oracle_sql.json").toPath,
        sql.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}"))
      Nil
    }

    def probes(minSeconds: Double): Map[String, Double] =
      Probes.rosbag(Nil, minSeconds) ++ Probes.multimodal(Nil, minSeconds)
  }

  // ---- timing loop ----

  private def runPass(spark: SparkSession, ops: Seq[(String, () => Unit)],
      tracer: Option[Tracer], n: Int): Pass = {
    val opTimes = mutable.ArrayBuffer.empty[(String, Double)]
    val opSpans = mutable.ArrayBuffer.empty[Span]
    var failed = 0
    val cpu0 = processCpuS
    val (jit0, gc0) = jitGcS
    val t0 = System.nanoTime()
    def body(): Unit = ops.foreach { case (name, op) =>
      val s0 = System.nanoTime()
      try tracer match {
        case Some(t) => t.span(name, "call")(op()); opSpans += t.lastClosed
        case None    => op()
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"perfbench: $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      opTimes += name -> (System.nanoTime() - s0) / 1e9
      cleanup(spark)
    }
    val passSpan = tracer.map { t => t.span(s"pass_$n", "pass")(body()); t.lastClosed }
    if (tracer.isEmpty) body()
    val (jit1, gc1) = jitGcS
    Pass((System.nanoTime() - t0) / 1e9, processCpuS - cpu0, opTimes.toSeq, failed, passSpan, opSpans.toSeq,
      jit1 - jit0, gc1 - gc0)
  }

  /** Geometric mean over the workload's operations of each one's median
    * latency across the timed passes. */
  private def opGeomean(passes: Seq[Pass]): Double = {
    val perOp = passes.flatMap(_.ops).groupBy(_._1).values.map(xs => median(xs.map(_._2)))
    math.exp(perOp.map(math.log).sum / perOp.size)
  }

  /** Untraced passes 1, 2, ... until `seconds` have passed. */
  private def timedPhase(spark: SparkSession, w: Workload, seconds: Double): Seq[Pass] = {
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Pass]
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds)
      passes += runPass(spark, w.pass(spark, 1 + passes.size), None, 1 + passes.size)
    passes.toSeq
  }

  /** Per-layer metrics of one traced pass. */
  private def layers(t: Tracer, p: Pass, bagBytes: Long): Map[String, Double] = {
    val s = t.rollup(p.span.get)
    val gap = p.opSpans.map(o => o.seconds - t.rollup(o).busySeconds).sum
    IngestTables.map(tb => s"jobs.write.${tb}_s" -> s.writes(tb)).toMap ++ Map(
      "ingest.read_amplification" -> (if (bagBytes == 0) 0.0 else s.input.toDouble / bagBytes),
      "plan.analysis_ms" -> s.analysisMs.toDouble, "plan.optimization_ms" -> s.optimizationMs.toDouble,
      "plan.planning_ms" -> s.planningMs.toDouble, "plan.executions" -> s.executions.toDouble,
      "aqe.replans" -> s.aqeReplans.toDouble,
      "sched.jobs" -> s.jobs.toDouble, "sched.stages" -> s.stages.toDouble,
      "sched.tasks" -> s.tasks.toDouble, "sched.tasks_failed" -> s.tasksFailed.toDouble,
      "sched.stages_retried" -> s.stagesRetried.toDouble, "driver.gap_s" -> gap,
      "exec.run_s" -> s.runMs / 1e3, "exec.cpu_s" -> s.cpuNs / 1e9, "exec.gc_s" -> s.gcMs / 1e3,
      "exec.deserialize_s" -> s.deserMs / 1e3, "shuffle.write_mb" -> s.shuffleWrite / 1e6,
      "shuffle.read_mb" -> s.shuffleRead / 1e6, "shuffle.fetch_wait_s" -> s.fetchWaitMs / 1e3,
      "spill.mb" -> s.spill / 1e6, "io.input_mb" -> s.input / 1e6, "io.output_mb" -> s.output / 1e6,
      "cache.leaked_rdds" -> s.leaked.toDouble, "sched.mislabeled_jobs" -> s.mislabeled.toDouble)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    require(sys.env.get("SPARK_GRAFT_EXTRA_CONF").isEmpty,
      "refusing to run with SPARK_GRAFT_EXTRA_CONF set: it would change what is measured")
    val (workload, seed, seconds) = (a("workload"), a("seed").toLong, a("seconds").toDouble)
    val trace = a("trace") == "1"
    val work = new File(a("work")).getAbsoluteFile
    work.mkdirs()

    // inputs first: generating them is not set-up
    val t0 = System.nanoTime()
    val w: Workload = workload match {
      case "ingest_drive" =>
        new Ingest(BagGen.drive(new File(work, "bags"), seed, cameraBags = 4, framesPerTopic = 12, 320, 240,
          telemetryBags = 4, seconds = 40), work)
      case "lake_queries" => new Queries(a("lake"), seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tInputs = System.nanoTime()
    val setups = (1 to Setups).map { _ =>
      val s0 = System.nanoTime()
      val s = session(work)
      w.warmup(s)
      cleanup(s)
      (System.nanoTime() - s0) / 1e9
    }
    val spark = SparkSession.active
    // the first pass is cold and untimed: it is the JIT's warm-up, and its
    // outputs are the ones the check verifies
    val first = runPass(spark, w.first(spark), None, 0)

    val (untraced, traced, tracer) =
      if (!trace) (timedPhase(spark, w, seconds), Nil, None)
      else {
        // untraced and traced passes alternate, so the JIT's warm-up weighs
        // on both sides of the tracing overhead alike
        val t = new Tracer(spark)
        val (plain, tp) = (mutable.ArrayBuffer.empty[Pass], mutable.ArrayBuffer.empty[Pass])
        val start = System.nanoTime()
        while (tp.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
          val n = 1 + plain.size + tp.size
          if (plain.size <= tp.size) plain += runPass(spark, w.pass(spark, n), None, n)
          else { t.start(); tp += runPass(spark, w.pass(spark, n), Some(t), n); t.stop() }
        }
        (plain.toSeq, tp.toSeq, Some(t))
      }
    val passes = untraced ++ traced
    val tCheck = System.nanoTime()
    val problems = w.check(spark)
    System.err.println(f"perfbench: jvm wall: inputs ${(tInputs - t0) / 1e9}%.1f s, setups and " +
      f"passes ${(tCheck - tInputs) / 1e9}%.1f s, check ${(System.nanoTime() - tCheck) / 1e9}%.1f s")
    val all = first +: passes
    val attempted = all.map(_.ops.size).sum
    val failed = all.map(_.failed).sum + problems.size.min(first.ops.size)

    val metrics: Map[String, Double] = tracer match {
      case None =>
        Map("setup_s" -> median(setups),
          "pass_s" -> median(passes.map(_.wall)), "pass_cpu_s" -> median(passes.map(_.cpu)),
          "op_geomean_s" -> opGeomean(passes))
      case Some(t) =>
        val per = traced.map(p => layers(t, p, w.bagBytes))
        val rolled = per.head.keys.map(k => k -> median(per.map(_(k)))).toMap
        val overhead = median(traced.map(_.wall)) - median(untraced.map(_.wall))
        val probes = t.span("kernel_probes", "kernel")(w.probes(0.3))
        Files.writeString(new File(work, s"trace-$workload-$seed.json").toPath,
          s"""{"workload": ${Json.str(workload)}, "seed": $seed, "untraced_pass_s": ${Json.arr(untraced.map(_.wall))}, """ +
            s""""traced_pass_s": ${Json.arr(traced.map(_.wall))}, "rollup_per_pass": ${Json.obj(rolled)},\n""" +
            s""""spans": ${t.json}}""")
        rolled ++ probes ++ Map("cache.peak_storage_mb" -> t.storagePeakMb, "trace.overhead_s" -> overhead,
          "jvm.peak_rss_mb" -> peakRssMb, "jvm.jit_s" -> median(traced.map(_.jit)))
    }
    spark.stop()
    Files.writeString(new File(a("out")).toPath,
      s"""{"attempted": $attempted, "failed": $failed, "problems": ${Json.arr(problems.map(Json.str))}, """ +
        s""""passes": ${Json.arr(passes.map(_.wall))}, "pass_cpu_s": ${Json.arr(passes.map(_.cpu))}, "pass_jit_s": ${Json.arr(passes.map(_.jit))}, "pass_gc_s": ${Json.arr(passes.map(_.gc))}, "first_pass_s": ${first.wall}, "peak_rss_mb": $peakRssMb, "bag_bytes": ${w.bagBytes}, "setups_s": ${Json.arr(setups)}, """ +
        s""""metrics": ${Json.obj(metrics)}}""")
  }
}

/** Just enough JSON writing for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[Any]): String = xs.map {
    case d: Double => num(d); case other => other.toString
  }.mkString("[", ", ", "]")
  def obj(m: Map[String, Double]): String =
    m.toSeq.sorted.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
}
