package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: a layer boundary crossed by the benchmark. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, var endNs: Long = 0L, var failed: Boolean = false) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Everything the listeners saw for one span's jobs. */
final class SpanStats {
  var jobs, stages, tasks, tasksFailed, stagesRetried, mislabeled = 0L
  var runMs, gcMs, deserMs, fetchWaitMs = 0L
  var cpuNs, shuffleWrite, shuffleRead, spill, input, output = 0L
  var analysisMs, optimizationMs, planningMs, executions, aqeReplans = 0L
  var leaked = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val writes = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def add(o: SpanStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksFailed += o.tasksFailed
    stagesRetried += o.stagesRetried; mislabeled += o.mislabeled
    runMs += o.runMs; gcMs += o.gcMs; deserMs += o.deserMs; fetchWaitMs += o.fetchWaitMs
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; output += o.output
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    executions += o.executions; aqeReplans += o.aqeReplans; leaked += o.leaked
    intervals ++= o.intervals
    o.writes.foreach { case (k, v) => writes(k) += v }
  }

  /** Wall time covered by at least one running task. */
  def busySeconds: Double = {
    var (total, end) = (0L, Long.MinValue)
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total / 1000.0
  }
}

/** Spans plus a [[SparkListener]] and a [[QueryExecutionListener]], all
  * registered from the benchmark. Each span sets `spark.jobGroup.id` (and
  * only that property) for its duration, so every job it starts can be
  * attributed to it; job descriptions are left to the program. Spans stay
  * in memory until [[rollup]] and [[json]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"
  private val Prefix = "perfbench-span-"
  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** The span that closed most recently. */
  var lastClosed: Span = _
  private val stats = mutable.Map.empty[Int, SpanStats]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  // per-execution updates, applied to a span once its jobs are known
  private val pendingExec = mutable.ArrayBuffer.empty[(Long, SpanStats => Unit)]
  // QueryExecutionListener reports, keyed by their QueryExecution object
  private val pendingQe = mutable.ArrayBuffer.empty[(QueryExecution, SpanStats => Unit)]
  private val qeExec = new java.util.IdentityHashMap[QueryExecution, Long]()
  // description inherited at span start; and the span each description was first seen in
  private val inherited = mutable.Map.empty[Int, String]
  private val descOwner = mutable.Map.empty[String, String]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var storageNow, storagePeak = 0L

  private def statsOf(id: Int): SpanStats = stats.getOrElseUpdate(id, new SpanStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(GroupKey)))
        .filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toInt).getOrElse(-1)
      val s = statsOf(span)
      s.jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, span))
      props.flatMap(p => Option(p.getProperty(DescKey))).foreach { d =>
        val name = if (span >= 0) spans(span).name else ""
        val owner = descOwner.getOrElseUpdate(d, name)
        if (owner != name || inherited.get(span).contains(d)) s.mislabeled += 1
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val s = statsOf(stageSpan.getOrElse(e.stageInfo.stageId, -1))
      s.stages += 1
      if (e.stageInfo.attemptNumber() > 0) s.stagesRetried += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = statsOf(stageSpan.getOrElse(e.stageId, -1))
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.tasksFailed += 1
      s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead; s.output += m.outputMetrics.bytesWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        storageNow -= rddBlocks.getOrElse(key, 0L)
        if (info.storageLevel.isValid) {
          rddBlocks(key) = info.memSize + info.diskSize; storageNow += info.memSize + info.diskSize
        } else rddBlocks -= key
        storagePeak = math.max(storagePeak, storageNow)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: SparkListenerSQLAdaptiveExecutionUpdate => lock.synchronized {
        pendingExec += ((u.executionId, (s: SpanStats) => s.aqeReplans += 1))
      }
      case end: SparkListenerSQLExecutionEnd => lock.synchronized {
        qeExec.put(Internals.queryExecution(end), end.executionId)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lock.synchronized {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val (a, o, p) = (ms("analysis"), ms("optimization"), ms("planning"))
      val table = qe.logical.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName
      }.orElse(if (funcName == "foreachPartition") Some("png") else None)
      pendingQe += ((qe, (s: SpanStats) => {
        s.analysisMs += a; s.optimizationMs += o; s.planningMs += p; s.executions += 1
        table.foreach(t => s.writes(t) += durationNs / 1e9)
      }))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L)
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    Internals.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `f` as a span; after it returns, count the persistent RDDs and
    * cached plans it left behind (before the caller cleans up). */
  def span[T](name: String, kind: String)(f: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, kind, System.nanoTime())
    lock.synchronized { spans += s }
    val prevGroup = sc.getLocalProperty(GroupKey)
    Option(sc.getLocalProperty(DescKey))
      .foreach(d => lock.synchronized { inherited(s.id) = d })
    sc.setLocalProperty(GroupKey, Prefix + s.id)
    stack = s :: stack
    try f
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.endNs = System.nanoTime()
      lastClosed = s
      stack = stack.tail
      sc.setLocalProperty(GroupKey, prevGroup)
      if (kind == "call") {
        val leaked = sc.getPersistentRDDs.size + (if (Internals.hasCachedPlans(spark)) 1 else 0)
        lock.synchronized { statsOf(s.id).leaked += leaked }
      }
    }
  }

  def storagePeakMb: Double = lock.synchronized(storagePeak / 1e6)

  /** Stats of `root` and all its descendants, after the listener bus has
    * delivered every pending event. */
  def rollup(root: Span): SpanStats = {
    Internals.drainListeners(sc)
    lock.synchronized {
      pendingExec.foreach { case (exec, fn) => fn(statsOf(execSpan.getOrElse(exec, -1))) }
      pendingExec.clear()
      pendingQe.foreach { case (qe, fn) =>
        val exec = if (qeExec.containsKey(qe)) qeExec.get(qe) else -1L
        fn(statsOf(execSpan.getOrElse(exec, -1)))
      }
      pendingQe.clear()
      qeExec.clear()
      val ids = mutable.Set(root.id)
      spans.foreach(s => if (ids(s.parent)) ids += s.id)
      val out = new SpanStats
      ids.foreach(i => stats.get(i).foreach(out.add))
      out
    }
  }

  /** Spans with their per-span counters, one JSON object per span. */
  def json: String = lock.synchronized {
    spans.map { s =>
      val st = stats.getOrElse(s.id, new SpanStats)
      val writes = Json.obj(st.writes.toMap)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, "kind": ${Json.str(s.kind)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "failed": ${s.failed}, """ +
        s""""jobs": ${st.jobs}, "stages": ${st.stages}, "tasks": ${st.tasks}, "busy_s": ${st.busySeconds}, """ +
        s""""exec_cpu_s": ${st.cpuNs / 1e9}, "shuffle_write_mb": ${st.shuffleWrite / 1e6}, """ +
        s""""planning_ms": ${st.analysisMs + st.optimizationMs + st.planningMs}, "aqe_replans": ${st.aqeReplans}, """ +
        s""""leaked": ${st.leaked}, "mislabeled": ${st.mislabeled}, "writes_s": $writes}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}
