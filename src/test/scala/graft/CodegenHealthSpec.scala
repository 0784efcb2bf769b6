package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Codegen-health regression guard (VERDICT r6 #7 / r7 #4).
  *
  * Round 6's only perf-weak flag — knn_ivfpq_topk running 13.7 s because its
  * 16×16 literal argmin trees blew janino's 64 KB method limit and silently
  * fell back to interpreted execution — was invisible to every gate: the
  * oracle still matched (fallback is semantics-preserving) and no test read
  * the codegen logs. This suite closes that gap with a machine check on the
  * most expensive registry ops:
  *
  *  1. the finalized (post-AQE) physical plan contains WholeStageCodegen
  *     stages (the hot path compiles, it isn't all interpreted glue), and
  *  2. a log4j2 probe appender saw NONE of Spark's four codegen-bailout
  *     messages while the query ran (strings verified against the 4.1.2
  *     jars: WholeStageCodegenExec + CodeGeneratorWithInterpretedFallback +
  *     CodeGenerator).
  *
  * A future expression whose generated code grows past the method limit —
  * the exact r6 defect class — now fails CI instead of shipping as a silent
  * 2.4× slowdown.
  */
object CodegenWarnProbe
    extends AbstractAppender(
      "graft-codegen-probe", null, null, false, Property.EMPTY_ARRAY) {
  private val bailouts = Seq(
    "Whole-stage codegen disabled for plan",
    "Found too long generated codes",
    "Failed to compile the generated Java code",
    "Expr codegen error and falling back to interpreter mode")
  val hits = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def append(event: LogEvent): Unit = {
    val msg = event.getMessage.getFormattedMessage
    if (bailouts.exists(msg.contains)) hits.add(msg.linesIterator.next())
  }
  /** Attach to the log4j2 root logger (idempotent). Spark's codegen bailout
    * messages are INFO..WARN depending on site, so the appender must see all
    * levels regardless of the session's WARN console level. */
  def install(): Unit = {
    start()
    val root = LogManager.getRootLogger.asInstanceOf[org.apache.logging.log4j.core.Logger]
    root.addAppender(this)
    // "Found too long generated codes" is logged at INFO by
    // WholeStageCodegenExec; raise ONLY that logger (near-zero volume) so
    // the probe sees it without flooding the console with global INFO.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.WholeStageCodegenExec", Level.INFO)
  }
}

class CodegenHealthSpec extends GraftSuite {

  /** The top bench-cost ops (BENCH_LOCAL r6) + the two native-expression
    * pipelines this guard exists to protect. */
  private val guarded = Seq(
    "knn_ivfpq_topk",     // PqEncode/PqAdcLut doGenCode — the r6 defect site
    "knn_ivf_topk",
    "knn_cosine_topk",    // DotQ codegen expression
    "dedup_components",
    "jaccard_pairs",
    "profile_table_stats", // widest Expand + 40-way multi-distinct aggregate
    "q_revenue_by_region",
    "docs_lm_quality_filter", // r8: bigram HOF explode ×2 + broadcast LM join
    "text_fuzzy_pairs",       // r8: top bench text line after the LM filter
    "docs_char_lm")

  for (name <- guarded) test(s"$name: whole-stage codegen compiles, no interpreter fallback") {
    CodegenWarnProbe.install()
    CodegenWarnProbe.hits.clear()
    val df = q(name)
    df.collect() // finalize AQE; runs every codegen compile on the real plan
    val plan = df.queryExecution.executedPlan.toString
    // WholeStageCodegenExec renders as a "*(codegenStageId)" prefix in the
    // executed-plan tree (e.g. "*(6) Sort [...]").
    assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined,
      s"$name executed with no WholeStageCodegen stage at all:\n$plan")
    val seen = CodegenWarnProbe.hits.toArray.mkString("; ")
    assert(CodegenWarnProbe.hits.isEmpty,
      s"$name triggered a codegen bailout (interpreted fallback shipped silently in r6): $seen")
  }

  test("codegen cache holds the skew working set: a repeated run recompiles almost nothing") {
    // The benchmark's `skew` set needs about 215 generated classes. Spark's
    // default cache of 100 is LRU, so a run in the same order as the last
    // one missed on almost every class: at that size the second run
    // recompiled 188 of the 212 classes the first run compiled.
    // What a repeated run may still compile: a class whose source differs
    // only in the whole-stage codegen stage id, which adaptive execution
    // assigns in the order query stages finish (0 to 6 such classes a run).
    val skew = Seq("dedup_components", "dedup_near_minhash", "jaccard_pairs",
      "text_containment", "text_winnowing_fingerprints")
    def compiled(): Long = {
      CorpusArtifacts.clear()
      val c0 = EngineSession.compiledClasses
      skew.foreach(n => Bench.materialize(q(n)))
      EngineSession.compiledClasses - c0
    }
    val first = compiled()
    val second = compiled()
    assert(second <= 20L, s"the second run recompiled $second classes (first run: $first)")
  }
}
