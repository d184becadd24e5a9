package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._
import graft.functions.VectorExpressions.{SrpBands, SrpPlanes}

/** Library packaging: everything graft adds to a session, injectable via
  * the standard extensions mechanism — `.withExtensions(new
  * GraftExtensions)` on a session builder (compile-time) or
  * `spark.sql.extensions=graft.GraftExtensions` (config-time).
  *
  * [[GraftSession.build]] applies it; a session graft does not own gets
  * it through `spark.sql.extensions=graft.GraftExtensions`. Injected
  * functions are catalog-level (visible to SQL, `expr`, `call_function`
  * and the DataFrame API) and, because extensions are applied when the
  * session state is built, every `newSession()` and every cloned
  * streaming micro-batch session inherits them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.kernels.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // analyzer check rule: veto big-by-big cartesian joins before they
    // execute (active only when spark.graft.crossJoinGuard.maxBytes is
    // set — see CrossJoinGuard)
    ext.injectCheckRule(graft.plans.CrossJoinGuard.rule)
  }
}

object GraftExtensions {
  /** Literal integer argument of a kernel (a plane count, a scale). */
  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** The function catalog: SQL name → builder of every native kernel.
    * `srp_buckets` is pinned to the ([[SrpBands]], [[SrpPlanes]]) family
    * the DuckDB twins unroll; `srp_buckets_p(vec, planes)` takes the
    * plane count as a literal — the
    * [[VectorExpressions.adaptiveSrpPlanes]] call sites use it.
    */
  val kernels: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("dot_f", c => DotProductF(c(0), c(1))),
    ("norm_f", c => NormF(c(0))),
    ("srp_buckets", c => SrpBucketsF(c(0), SrpBands, SrpPlanes)),
    ("srp_buckets_p", c => SrpBucketsF(c(0), SrpBands, intArg(c(1)))),
    ("dot_d", c => DotD(c(0), c(1))),
    ("sqdist_d", c => SqDistD(c(0), c(1))),
    ("sub_scale_d", c => SubScaleD(c(0), c(1), c(2))),
    ("occ_max_d", c => OccMaxD(c(0))),
    ("round_f", c => RoundFastD(c(0), intArg(c(1)))),
    ("tok_hash", c => TokHash(c(0))),
    ("shingle_min", c => ShingleMin(c(0))),
    ("simhash32", c => SimHash32(c(0))),
    ("shingle_set", c => ShingleSet(c(0))),
    ("h60_f", c => Md5H60(c(0))))
}

/** Session factory with the configuration a 100 TB deployment needs set
  * BEFORE first query (values here are the local-mode variants; the
  * cluster profile differs only in sizing, not in which knobs matter):
  *
  *  - AQE on with skew-join splitting: similarity/dedup workloads are
  *    exactly where hot keys (common shingles, dense LSH buckets) appear;
  *  - shuffle partitions sized to the parallelism actually available
  *    (cluster: 2-3× total executor cores; local: the core count);
  *  - broadcast threshold generous enough that dimension tables and
  *    query-vector sets broadcast instead of shuffling the fact side;
  *  - UTC session timezone — cross-engine timestamp determinism
  *    (SURVEY.md §5).
  *
  * Every main (Bench, Verify, Ladder, the dev tools) and the test suite
  * build their session here, so the session that is benched, verified
  * and tested is the one the library ships.
  */
object GraftSession {
  def build(master: String = "local[*]", cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      // object top-k / collect aggregates routinely exceed the default
      // 128-group hash threshold per task (the serve graph's per-node
      // top-k alone has thousands of groups); the sort-based fallback
      // re-sorts every input row — the exact cost the bounded aggregate
      // exists to avoid. Group-count is bounded by nodes/task with
      // KB-scale buffers, so the hash path is safe at any corpus size.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 65536)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
}
