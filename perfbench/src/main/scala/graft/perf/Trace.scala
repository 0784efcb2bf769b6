package graft.perf

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.{ArrayBuffer, HashMap}
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import Runner.{Call, Pass, Wave}
import Trace._

/** The traced run's recorder. It attaches Spark's public listener
  * interfaces (plus a log4j appender for ERROR events and re-stored-block
  * warnings) for the traced passes only, keeps raw events in memory, and at
  * the end of the run ties each event to the call that caused it: jobs by
  * the job group the runner sets before each call, everything else by time
  * (the client is closed-loop, so call windows never overlap).
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext


  private val jobs = ArrayBuffer[JobEv]()
  private val jobEnds = HashMap[Int, Long]()
  private val stages = ArrayBuffer[StageEv]()
  private val taskReads = HashMap[(Int, Int), ArrayBuffer[Long]]()
  private val failedTasks = ArrayBuffer[Long]()
  private val phases = ArrayBuffer[Phase]()
  private val logs = ArrayBuffer[LogEv]()
  private val blocks = ArrayBuffer[BlockEv]()
  @volatile private var lastEvent = System.nanoTime()
  private def ms(t: Long): Long = t * 1000000L
  private def rec[T](f: => T): Unit = synchronized { lastEvent = System.nanoTime(); f }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = rec {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs += JobEv(e.jobId, ms(e.time), prop("spark.jobGroup.id"),
        prop("sql.streaming.queryId"), prop("streaming.sql.batchId"), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = rec { jobEnds(e.jobId) = ms(e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = rec {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages += StageEv(s.stageId, s.attemptNumber(), ms(s.submissionTime.getOrElse(0L)),
        ms(s.completionTime.getOrElse(0L)), s.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled, m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = rec {
      if (e.reason != Success) failedTasks += ms(e.taskInfo.finishTime)
      Option(e.taskMetrics).foreach(m => taskReads.getOrElseUpdate(
        (e.stageId, e.stageAttemptId), ArrayBuffer[Long]()) += m.shuffleReadMetrics.totalBytesRead)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) rec {
        blocks += BlockEv(Runner.now(), b.blockId.name, b.storageLevel.isValid,
          b.memSize + b.diskSize)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def keep(qe: QueryExecution): Unit = rec {
      qe.tracker.phases.foreach { case (n, s) => phases += Phase(n, ms(s.startTimeMs), ms(s.endTimeMs)) }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = keep(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = keep(qe)
  }

  private val appender = new AbstractAppender("perfbench-trace", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      if (e.getLevel.isMoreSpecificThan(Level.ERROR) || msg.contains("already exists"))
        rec { logs += LogEv(ms(e.getTimeMillis), e.getLevel.name, e.getLoggerName, msg.take(240)) }
    }
  }
  private def logConfig = LogManager.getContext(false).asInstanceOf[LoggerContext]

  // per-pass JVM figures and per-call landed writes, taken by the runner's
  // own thread between calls; the time spent here is subtracted from the
  // pass it falls in
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private var gcAtAttach = 0L
  private val jvmPasses = HashMap[Int, JvmPass]()
  private val bookkeeping = HashMap[Int, Long]()
  def bookkeepingNs(pass: Int): Long = bookkeeping.getOrElse(pass, 0L)
  private val writes = HashMap[(String, Int), Writes]()
  private var files = Map[String, (Long, Long)]()

  private def snapshot(roots: Seq[File]): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[(String, (Long, Long))] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f.getPath -> (f.length(), f.lastModified())) else Nil
    roots.flatMap(walk).toMap
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    appender.start()
    logConfig.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    logConfig.updateLoggers()
    heapPools.foreach(_.resetPeakUsage())
    gcAtAttach = gcMs
    files = snapshot(Runner.landedRoots(sc.applicationId))
  }

  /** Called right after each traced call: attributes landed writes. */
  def afterCall(op: String, pass: Int, roots: Seq[File]): Unit = {
    val t0 = System.nanoTime()
    val now = snapshot(roots)
    val changed = now.filter { case (p, v) => !files.get(p).contains(v) }
    val artRoot = roots.head.getPath + File.separator
    val artDirs = changed.keys.filter(_.startsWith(artRoot))
      .map(_.stripPrefix(artRoot).takeWhile(_ != File.separatorChar)).toSet
    val artBytes = now.collect {
      case (p, (len, _)) if p.startsWith(artRoot) &&
        artDirs(p.stripPrefix(artRoot).takeWhile(_ != File.separatorChar)) => len
    }.sum
    writes((op, pass)) = Writes(changed.values.map(_._1).sum, changed.size, artDirs.size, artBytes)
    files = now
    bookkeeping(pass) = bookkeepingNs(pass) + (System.nanoTime() - t0)
  }

  /** Waits until the listener bus has gone quiet, then detaches. */
  def detach(pass: Int): Unit = {
    jvmPasses(pass) = JvmPass(heapPools.map(_.getPeakUsage.getUsed).sum / 1e6,
      (gcMs - gcAtAttach) / 1e3)
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEvent < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    logConfig.getConfiguration.getRootLogger.removeAppender(appender.getName)
    logConfig.updateLoggers()
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    total + (curE - curS)
  }

  /** Per-call and per-pass layer figures, plus the spans file. */
  def summary(calls: Seq[Call], passes: Seq[Pass], waves: Seq[Wave], spansOut: File): String =
    synchronized {
    val traced = passes.filter(_.traced)
    val tracedIdx = traced.map(_.index).toSet
    val tc = calls.filter(c => tracedIdx(c.pass))
    val slack = 2000000L // listener times are whole milliseconds
    def callAt(t: Long): Option[Call] =
      tc.find(c => t >= c.start - slack && t <= c.end + slack)
    val byGroup = tc.map(c => s"perf:${c.op}:${c.pass}" -> c).toMap
    def key(c: Call) = (c.op, c.pass)

    val jobCall = jobs.flatMap(j => byGroup.get(j.group).orElse(callAt(j.start)).map(j -> _))
    val stageJob = jobCall.flatMap { case (j, _) => j.stageIds.map(_ -> j) }.toMap
    val stageCall = stages.flatMap(s => stageJob.get(s.id)
      .flatMap(j => jobCall.find(_._1 eq j).map(_._2)).orElse(callAt(s.submit)).map(s -> _))
    val waveCall = waves.flatMap(w => callAt(w.start).map(w -> _))
    def waveKey(w: Wave) = (w.queryId, w.batchId.toString)
    val waveJobs = jobs.groupBy(j => (j.streamQuery, j.batchId)).map { case (k, v) => k -> v.size }

    // spans: pass > call > build | action > wave > job, plan phases inside
    // whichever of these contains their start
    val spans = ArrayBuffer[Span]()
    def add(kind: String, name: String, s: Long, e: Long): Span = {
      val sp = Span(spans.size, kind, name, s, e); spans += sp; sp
    }
    val passSpan = traced.map(p => p.index -> add("pass", s"pass${p.index}", p.start, p.end)).toMap
    val inner = ArrayBuffer[Span]()
    tc.foreach { c =>
      val q = add("query", c.op, c.start, c.end); q.parent = passSpan(c.pass).id
      val b = add("build", c.op, c.start, c.buildEnd); b.parent = q.id
      val a = add("action", c.op, c.buildEnd, c.end); a.parent = q.id
      inner += b += a
    }
    def innermost(t: Long, cands: Seq[Span]): Option[Span] =
      cands.filter(s => t >= s.start - slack && t <= s.end + slack).sortBy(_.dur).headOption
    val waveSpans = waveCall.map { case (w, c) =>
      val sp = add("wave", c.op, w.start, w.start + w.triggerMs * 1000000L)
      innermost(w.start, inner.toSeq).foreach(p => sp.parent = p.id)
      waveKey(w) -> sp
    }.toMap
    jobCall.foreach { case (j, c) =>
      val sp = add("job", c.op, j.start, jobEnds.getOrElse(j.id, j.start))
      sp.parent = waveSpans.get((j.streamQuery, j.batchId))
        .orElse(innermost(j.start, inner.toSeq)).map(_.id).getOrElse(-1)
    }
    phases.foreach { ph =>
      callAt(ph.start).foreach { c =>
        val sp = add("plan", ph.name, ph.start, ph.end)
        sp.parent = innermost(ph.start, (inner ++ waveSpans.values).toSeq).map(_.id).getOrElse(-1)
      }
    }
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    val self = spans.map(s => s.id -> (s.dur - covered(
      children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq, s.start, s.end))).toMap
    val pw = new java.io.PrintWriter(spansOut)
    try spans.foreach(s => pw.println(Json.obj(Seq("id" -> s.id.toString,
      "kind" -> Json.str(s.kind), "name" -> Json.str(s.name), "start_ns" -> s.start.toString,
      "end_ns" -> s.end.toString, "parent" -> s.parent.toString, "self_ns" -> self(s.id).toString))))
    finally pw.close()

    // pins: distinct RDD blocks stored, and the peak of bytes held, per call
    def pins(c: Call): (Int, Long) = {
      val evs = blocks.filter(b => b.time >= c.start && b.time <= c.end + slack)
      var live = Map[String, Long](); var peak = 0L
      val pre = blocks.filter(_.time < c.start)
      pre.foreach(b => live = if (b.stored) live + (b.id -> b.bytes) else live - b.id)
      evs.foreach { b =>
        live = if (b.stored) live + (b.id -> b.bytes) else live - b.id
        peak = math.max(peak, live.values.sum)
      }
      (evs.filter(_.stored).map(_.id).distinct.size, peak)
    }
    val logCall = logs.flatMap(l => callAt(l.time).map(l -> _))

    def num(d: Double) = Json.num(d)
    val rows = tc.map { c =>
      val st = stageCall.filter(_._2 eq c).map(_._1)
      val js = jobCall.filter(_._2 eq c).map(_._1)
      val ph = phases.filter(p => callAt(p.start).contains(c))
      def phase(n: String) = ph.filter(_.name == n).map(p => p.end - p.start).sum / 1e9
      val skew = st.flatMap { s =>
        val r = taskReads.getOrElse((s.id, s.attempt), ArrayBuffer[Long]()).sorted
        if (r.size >= 2 && r.sum > 0) {
          val med = math.max(1L, r(r.size / 2))
          Some(r.last.toDouble / med)
        } else None
      }
      val cw = waveCall.filter(_._2 eq c).map(_._1)
      val (pinBlocks, pinPeak) = pins(c)
      val w = writes.getOrElse(key(c), Writes(0, 0, 0, 0))
      val lg = logCall.filter(_._2 eq c).map(_._1)
      val spanSelf = spans.filter(s => s.kind != "pass" && s.start >= c.start - slack &&
        s.end <= c.end + slack && (s.kind != "query" || s.name == c.op))
      Json.obj(Seq(
        "op" -> Json.str(c.op), "pass" -> c.pass.toString,
        "wall_s" -> num((c.end - c.start) / 1e9),
        "registry.build_s" -> num((c.buildEnd - c.start) / 1e9),
        "plan.analysis_s" -> num(phase("analysis")),
        "plan.optimize_s" -> num(phase("optimization")),
        "plan.physical_s" -> num(phase("planning")),
        "exec.jobs" -> js.size.toString,
        "exec.stages" -> st.size.toString,
        "exec.tasks" -> st.map(_.tasks).sum.toString,
        "exec.run_s" -> num(st.map(_.runMs).sum / 1e3),
        "exec.cpu_s" -> num(st.map(_.cpuNs).sum / 1e9),
        "exec.gc_s" -> num(st.map(_.gcMs).sum / 1e3),
        "scan.rows" -> st.map(_.inRows).sum.toString,
        "scan.bytes" -> st.map(_.inBytes).sum.toString,
        "shuffle.write_bytes" -> st.map(_.shWrite).sum.toString,
        "shuffle.read_bytes" -> st.map(_.shRead).sum.toString,
        "shuffle.fetch_wait_s" -> num(st.map(_.fetchMs).sum / 1e3),
        "shuffle.skew_max" -> num(if (skew.isEmpty) 1.0 else skew.max),
        "spill.mem_bytes" -> st.map(_.spillMem).sum.toString,
        "spill.disk_bytes" -> st.map(_.spillDisk).sum.toString,
        "artifacts.built" -> w.artifactsBuilt.toString,
        "artifacts.bytes" -> w.artifactBytes.toString,
        "write.bytes" -> w.bytes.toString,
        "write.files" -> w.files.toString,
        "pin.blocks" -> pinBlocks.toString,
        "pin.bytes_peak" -> pinPeak.toString,
        "pin.recomputed" -> lg.count(l => l.msg.startsWith("Block rdd_") &&
          l.msg.contains("already exists")).toString,
        "wave.count" -> cw.size.toString,
        "wave.trigger_s" -> num(cw.map(_.triggerMs).sum / 1e3),
        "wave.add_batch_s" -> num(cw.map(_.addBatchMs).sum / 1e3),
        "wave.input_rows" -> cw.map(_.inputRows).sum.toString,
        "wave.jobs" -> cw.map(w => waveJobs.getOrElse(waveKey(w), 0)).sum.toString,
        "state.rows" -> (if (cw.isEmpty) 0L else cw.map(_.stateRows).max).toString,
        "state.mem_bytes" -> (if (cw.isEmpty) 0L else cw.map(_.stateMem).max).toString,
        "fail.tasks" -> failedTasks.count(t => callAt(t).contains(c)).toString,
        "fail.stages_resubmitted" -> st.count(_.attempt > 0).toString,
        "log.errors" -> lg.count(_.level == "ERROR").toString,
        "log.events" -> Json.arr(lg.toSeq.map(l => Json.str(s"${l.level} ${l.logger}: ${l.msg}"))),
        "self" -> Json.obj(Seq("query", "build", "action", "wave", "job", "plan").map(k =>
          k -> num(spanSelf.filter(_.kind == k).map(s => self(s.id)).sum / 1e9)))))
    }
    val passRows = traced.map { p =>
      val j = jvmPasses.getOrElse(p.index, JvmPass(0, 0))
      Json.obj(Seq("index" -> p.index.toString,
        "self_pass_s" -> num(self(passSpan(p.index).id) / 1e9),
        "jvm.heap_peak_mb" -> num(j.heapPeakMb), "jvm.gc_s" -> num(j.gcS)))
    }
    Json.obj(Seq("calls" -> Json.arr(rows), "passes" -> Json.arr(passRows)))
  }
}

object Trace {
  final case class JobEv(id: Int, start: Long, group: String, streamQuery: String,
                         batchId: String, stageIds: Seq[Int])
  final case class StageEv(id: Int, attempt: Int, submit: Long, end: Long, tasks: Int,
                           runMs: Long, cpuNs: Long, gcMs: Long, shRead: Long, fetchMs: Long,
                           shWrite: Long, spillMem: Long, spillDisk: Long,
                           inRows: Long, inBytes: Long)
  final case class Phase(name: String, start: Long, end: Long)
  final case class LogEv(time: Long, level: String, logger: String, msg: String)
  final case class BlockEv(time: Long, id: String, stored: Boolean, bytes: Long)
  final case class JvmPass(heapPeakMb: Double, gcS: Double)
  final case class Writes(bytes: Long, files: Int, artifactsBuilt: Int, artifactBytes: Long)
  final case class Span(id: Int, kind: String, name: String, start: Long, end: Long,
                        var parent: Int = -1) {
    def dur: Long = math.max(0L, end - start)
  }
}
