package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Skew mitigation for large joins — the manual salting technique for the
  * cases AQE's skew-join splitting cannot reach (e.g. a single hot key on
  * BOTH sides, or pre-AQE plan shapes). Referenced by the reference's
  * skew-resistant two-stage aggregation design (SURVEY.md §2.4
  * local/global agg) applied to joins:
  *
  *   - the skewed (probe) side gets a uniform random-ish salt in
  *     [0, factor) derived deterministically from row content;
  *   - the build side is replicated `factor` times, once per salt value;
  *   - the join key becomes (key, salt), splitting each hot key's rows
  *     across `factor` reducers.
  *
  * Cost: build side × factor. Use only when the build side is small-ish
  * but above the broadcast threshold — the classic mid-size dim skew fix.
  */
object SkewOps {

  /** Inner equi-join with the probe side salted `factor` ways. Column
    * sets must be disjoint apart from the join key names.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      factor: Int): DataFrame = {
    // deterministic salt: stable under retries (rand() would not be)
    val salted = probe.withColumn("__salt",
      pmod(xxhash64(probe.columns.map(col).toSeq: _*), lit(factor)))
    val replicated = build
      .withColumn("__salt", explode(sequence(lit(0L), lit(factor - 1L))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Size-aware salted sides for a bucket join (the key-level skew guard
    * of [[DedupOps.simhashPairs]], [[SimilarityOps.embedNearDupPairs]] and
    * [[SimilarityOps.semanticDedup]]): the build side's bucket sizes are
    * aggregated and broadcast, build rows hash by `buildId` into one of
    * ceil(|bucket|/target) salt groups, and probe rows replicate once per
    * group — every (probe, build) pair still meets exactly once, now
    * under `keys :+ "__salt"`, and per-join-key build rows stay ~target
    * whatever the skew ratio. Returns (probe, build).
    */
  private[graft] def saltedSides(probe: DataFrame, build: DataFrame,
      keys: Seq[String], buildId: String, target: Int): (DataFrame, DataFrame) = {
    val sizes = build.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bn"))
    val nsalt = ceil(col("__bn").cast(DoubleType) / target).cast(IntegerType)
    val b = build.join(broadcast(sizes), keys)
      .withColumn("__salt",
        pmod(xxhash64(col(buildId)), nsalt.cast(LongType)).cast(IntegerType))
      .drop("__bn")
    val p = probe.join(broadcast(sizes), keys)
      .withColumn("__salt", explode(sequence(lit(0), nsalt - 1)))
      .drop("__bn")
    (p, b)
  }
}
