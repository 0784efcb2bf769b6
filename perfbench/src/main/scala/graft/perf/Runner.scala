package graft.perf

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Bench, CorpusArtifacts, SparkEntry}

/** One closed-loop client over one workload.
  *
  * A single driver thread calls each registry query in turn and waits for
  * it: build the DataFrame (the registry closure), then run the noop-sink
  * action [[graft.Bench.materialize]]. Set-up is timed as a whole: session
  * build, the check pass (every output dumped for the oracle check, which
  * also lands the state a workload treats as given) and the warm-up passes.
  * Then timed passes run until `--seconds` have elapsed. Everything measured
  * goes to `record.json` in `--out`; nothing is parsed from the console.
  *
  * With `--trace 1` the timed passes alternate between untraced and traced.
  * Listeners are attached only for the traced passes, so the traced run
  * reports its own overhead against its untraced passes.
  */
object Runner {
  val Cores = 4
  /** Noop-sink warm-up passes after the check pass. The record keeps every
    * pass's time, so a last warm-up pass well above the timed ones shows
    * that the JIT and the codegen caches were still filling. */
  val WarmupPasses = 2
  /** Timed passes run until `--seconds` have elapsed, but never fewer than
    * this: passes still get faster after warm-up, so a run on a slow host
    * that stopped after fewer passes would take its median from less warm
    * ones. */
  val MinTimedPasses = 3

  final case class Workload(name: String, ops: Seq[String], clearPerPass: Boolean)

  /** The workloads. A run must fit a few seconds of timed work plus its
    * set-up, so each workload is a fixed subset of the registry, run in
    * name order; the reasons are in perfbench/README.md. The seed only
    * generates the inputs. */
  def workload(name: String): Workload = name match {
    // the text and dedup kernels: the two capped-posting pair kernels
    // (jaccard, containment), connected components over the landed
    // candidate-edge artifact, LSH banding, and the per-document window
    // kernel. Artifacts are cleared at the start of each pass: the first
    // consumer in the pass pays for the build. dedup_lsh_eval is left out
    // because it fails the oracle on every corpus with empty documents
    // (perfbench/README.md, "Workloads"); a workload holds only operations
    // that pass their check, so that `correct` can gate a comparison
    case "skew" => Workload(name, Seq("dedup_components", "dedup_near_minhash",
      "jaccard_pairs", "text_containment", "text_winnowing_fingerprints"),
      clearPerPass = true)
    // every wave re-lands the band store; the planted stream corpus it reads
    // is landed once, by the check pass, and never cleared
    case "incremental" => Workload(name, Seq("stream_dedup_bands"), clearPerPass = false)
    case other => sys.error(s"unknown workload $other")
  }

  final case class Call(op: String, pass: Int, start: Long, buildEnd: Long, end: Long,
                        error: Option[String])
  final case class Pass(index: Int, kind: String, start: Long, end: Long,
                        landedBytes: Long, traced: Boolean)
  final case class Wave(queryId: String, batchId: Long, start: Long,
                        triggerMs: Long, addBatchMs: Long, inputRows: Long,
                        stateRows: Long, stateMem: Long)

  /** Wall clock in epoch nanoseconds, monotonic within the run. Listener
    * events carry epoch milliseconds, so spans share this time base. */
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  /** Micro-batch progress. Spark builds it whether or not anyone listens;
    * this listener only keeps it, so it is attached in untraced runs too. */
  final class WaveLog extends StreamingQueryListener {
    val waves = ArrayBuffer[Wave]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      synchronized {
        waves += Wave(p.id.toString, p.batchId, start,
          d("triggerExecution"), d("addBatch"), p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftOptimizations.install(spark)
    spark
  }

  /** Directories that hold landed state for this application: the corpus
    * artifacts under the JVM tmpdir, and the stores the engine keeps under
    * /tmp (the CC label store, the band store, the incremental edge and
    * label stores). */
  def landedRoots(appId: String): Seq[File] = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val fixed = Option(new File("/tmp").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(appId))
    new File(tmp, s"graft_artifacts_$appId") +: fixed
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length() else 0L

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dir = opts("inputs")
    val out = new File(opts("out"))
    out.mkdirs()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L

    val spark = session()
    val sc = spark.sparkContext
    val waveLog = new WaveLog
    spark.streams.addListener(waveLog)
    val trace = if (traced) Some(new Trace(spark)) else None
    val queries = SparkEntry.queries
    val calls = ArrayBuffer[Call]()
    val passes = ArrayBuffer[Pass]()
    val roots = () => landedRoots(sc.applicationId)
    val order = wl.ops.sorted

    val dump = new File(out, "dump")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => wl.ops.contains(k) }
    val emptyNoOracle = ArrayBuffer[String]()
    /** The check pass's action: the output lands as parquet for the oracle. */
    def dumpOutput(op: String, df: DataFrame): Unit = {
      val path = new File(dump, op).getPath
      df.coalesce(1).write.mode("overwrite").parquet(path)
      if (!oracle.contains(op) && spark.read.parquet(path).isEmpty) emptyNoOracle += op
    }
    val noop = (_: String, df: DataFrame) => Bench.materialize(df)

    def call(op: String, pass: Int, action: (String, DataFrame) => Unit): Call = {
      sc.setJobGroup(s"perf:$op:$pass", op, interruptOnCancel = false)
      val t0 = now()
      var t1 = t0
      val err = try {
        val df = queries(op)(spark, dir)
        t1 = now()
        action(op, df)
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally sc.clearJobGroup()
      val c = Call(op, pass, t0, if (t1 == t0) now() else t1, now(), err)
      calls += c
      c
    }

    def runPass(index: Int, kind: String, withTrace: Boolean,
                action: (String, DataFrame) => Unit = noop): Pass = {
      if (wl.clearPerPass) CorpusArtifacts.clear()
      if (withTrace) trace.foreach(_.attach())
      val t0 = now()
      order.foreach { op =>
        call(op, index, action)
        trace.filter(_ => withTrace).foreach(_.afterCall(op, index, roots()))
      }
      val t1 = now()
      if (withTrace) trace.foreach(_.detach(index))
      val p = Pass(index, kind, t0, t1 - trace.map(_.bookkeepingNs(index)).getOrElse(0L),
        roots().map(treeBytes).sum, withTrace)
      passes += p
      System.err.println(f"[perf] pass $index $kind ${(t1 - t0) / 1e9}%.2f s")
      p
    }

    // set-up: warm-up passes. The first is the check pass: it dumps every
    // output for the DuckDB oracle instead of discarding it, and lands the
    // state a workload treats as given.
    runPass(0, "check", withTrace = false, action = dumpOutput)
    (1 to WarmupPasses).foreach(i => runPass(i, "warmup", withTrace = false))
    val setupEnd = now()
    Files.writeString(Paths.get(dump.getPath, "oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    // timed passes: at least MinTimedPasses; when tracing they alternate untraced and
    // traced, starting untraced
    var i = WarmupPasses
    val firstTimed = i + 1
    val timedStart = now()
    while (i < firstTimed + MinTimedPasses - 1 || (now() - timedStart) / 1e9 < seconds) {
      i += 1
      runPass(i, "timed", withTrace = traced && (i - firstTimed) % 2 == 1)
    }

    val appId = sc.applicationId
    spark.stop() // drains the listener bus before the trace is summarised
    val waves = waveLog.synchronized(waveLog.waves.toList)

    val rec = Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "seed" -> seed.toString,
      "seconds" -> seconds.toString,
      "trace" -> traced.toString,
      "cores" -> Cores.toString,
      "app_id" -> Json.str(appId),
      "ops" -> Json.arr(wl.ops.map(Json.str)),
      "oracled" -> Json.arr(oracle.keys.toSeq.sorted.map(Json.str)),
      "jvm_start_ns" -> jvmStart.toString,
      "setup_s" -> Json.num((setupEnd - jvmStart) / 1e9),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(Seq(
        "index" -> p.index.toString, "kind" -> Json.str(p.kind),
        "traced" -> p.traced.toString,
        "start_ns" -> p.start.toString, "wall_s" -> Json.num((p.end - p.start) / 1e9),
        "landed_bytes" -> p.landedBytes.toString)))),
      "calls" -> Json.arr(calls.toSeq.map(c => Json.obj(Seq(
        "op" -> Json.str(c.op), "pass" -> c.pass.toString,
        "start_ns" -> c.start.toString,
        "build_s" -> Json.num((c.buildEnd - c.start) / 1e9),
        "wall_s" -> Json.num((c.end - c.start) / 1e9)) ++
        c.error.map(e => "error" -> Json.str(e))))),
      "waves" -> Json.arr(waves.map(w => Json.obj(Seq(
        "query_id" -> Json.str(w.queryId), "batch_id" -> w.batchId.toString,
        "start_ns" -> w.start.toString,
        "trigger_s" -> Json.num(w.triggerMs / 1e3), "add_batch_s" -> Json.num(w.addBatchMs / 1e3),
        "input_rows" -> w.inputRows.toString, "state_rows" -> w.stateRows.toString,
        "state_mem_bytes" -> w.stateMem.toString)))),
      "empty_no_oracle" -> Json.arr(emptyNoOracle.toSeq.map(Json.str)),
    ) ++ trace.map(t => "layers" -> t.summary(calls.toSeq, passes.toSeq, waves, new File(out, "spans.jsonl"))))
    Files.writeString(Paths.get(out.getPath, "record.json"), rec)
    landedRoots(appId).foreach(f =>
      org.apache.spark.network.util.JavaUtils.deleteRecursively(f))
  }
}

/** Just enough JSON writing for the record: callers pass already-encoded
  * values (numbers and booleans as their text, strings through [[str]]). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
