package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}

/** Driver-side evaluation of the engine's bucket hash for CONSTANT
  * keys.
  *
  * Every pruned index serve starts by mapping its query terms/grams to
  * posting buckets via `pmod(xxhash64(k), Buckets)`. When the keys are
  * driver-side constants (the query literal itself), the original
  * formulation still built a local DataFrame and ran
  * `.distinct().collect()` — a full scheduler round trip (job + stages
  * + AQE) to hash a handful of strings (guide §5: the driver should do
  * almost no data work — and conversely, a distributed job should not
  * be scheduled for driver-sized arithmetic). These helpers evaluate
  * the SAME catalyst `XxHash64` kernel (seed 42, the `xxhash64` SQL
  * function) on the driver: identical values, zero jobs. Parity with
  * the Column form is pinned in Md5LongSpec.
  *
  * For driver-side key sets: constants, and keys a serve has already
  * collected from its bounded query batch (`Retrieval.bm25Batch`).
  * Key frames still to be evaluated (boolean query batches, probe
  * frames) keep the distributed collect, which is bounded by the
  * bucket-domain size.
  */
object LocalHash {

  /** == `pmod(xxhash64(key), m)` for a string key. */
  def xxBucket(key: String, m: Long): Long = {
    // seed 42L == the `xxhash64` SQL function's default
    val h = XxHash64(Seq(Literal(key)), 42L).eval(InternalRow.empty)
      .asInstanceOf[Long]
    ((h % m) + m) % m
  }

  /** The distinct sorted bucket list of `keys` — the shape every
    * `.isin(buckets: _*)` prune consumes.
    */
  def bucketsOf(keys: Seq[String], m: Long): Seq[Long] =
    keys.map(xxBucket(_, m)).distinct.sorted
}
