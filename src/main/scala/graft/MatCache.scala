package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Session-scoped materialization cache for the small derived values the
  * operator families share: the near-dup pair graph (consumed by
  * ngram-jaccard, triangles, PageRank, and connected components), the
  * trained IVF / PQ codebooks (consumed by the ANN family and SemDeDup),
  * and the scalars and paths their builders derive once per dataset (the
  * corpus doc count, the two candidate-volume gates, the media store's
  * directory).
  *
  * This is the "materialize the index once for the whole family" discipline
  * a production deployment runs as an offline job — expressed engine-side,
  * so four graph queries in one session pay the inverted-index pipeline
  * ONCE instead of four times. Only node-sized artifacts belong here (pair
  * lists, 16..64-row codebooks, each already localCheckpoint'd by its
  * builder); corpus-sized frames must never be cached — the memory cost
  * would scale with the data, not the schema.
  *
  * Keyed by (session, builder key): a DataFrame is only valid in the
  * session that built it, and tests that run the same builder against
  * fixture directories get distinct entries per directory. The key holds
  * the `SparkSession` itself, whose `equals` is identity, so two sessions
  * never share an entry. A map keyed by `identityHashCode(session)` (the
  * ADVICE r12 hazard) could: a session collected while its entry stayed
  * could hand its hash, and with it a stale value, to a new session. Here
  * an entry keeps its session reachable, so it lives as long as the
  * session's cached pair graph already did (a DataFrame holds its
  * session); the scalars add three Longs and one path per (session,
  * dataset), and nothing is evicted.
  *
  * A builder may look up other entries (the pair-graph builder reads the
  * doc count): no lock is held while it runs. Two threads that miss one
  * key at once may both build it; both get the value stored first.
  */
object MatCache {
  private val m = TrieMap.empty[(SparkSession, String), Any]

  def value[T](s: SparkSession, key: String)(build: => T): T =
    m.getOrElseUpdate((s, key), build).asInstanceOf[T]

  def df(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    value(s, key)(build)

  /** Block-manager ids of every RDD a cached artifact's plan reads from —
    * the blocks that must SURVIVE a [[sweepTransients]]. Collected across
    * all sessions, not just the caller's: in local mode every session
    * shares one SparkContext, so a per-session pin set would let one
    * session's sweep silently evict another's artifacts.
    */
  private def pinnedRddIds: Set[Int] =
    m.values.flatMap {
      case df: org.apache.spark.sql.Dataset[_] =>
        df.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
        }
      case _ => Nil
    }.toSet

  /** Free every persisted RDD except the cached artifacts' own blocks.
    *
    * Why this exists: the iterative and index-building operators cut
    * lineage with `localCheckpoint`, which pins the cut point's blocks in
    * the block manager. Those blocks are per-query SCRATCH — in a
    * production job they die with the job's JVM — but a long-lived session
    * (the 176-query bench, Verify, a notebook) accumulates them until the
    * protected storage fraction starves execution memory; measured at
    * sf10, leftover artifacts inflated later unrelated queries up to 12×
    * until a fresh JVM dissolved the difference (SURVEY §2.12 item 5).
    * Harnesses call this BETWEEN queries, once the previous result is
    * fully materialized; the unpersist is lineage-destroying for the swept
    * frames, which is exactly why it must never run mid-query — and why
    * this is `private[graft]`: a caller outside the harness discipline
    * holding its OWN checkpointed frame (a notebook `val df =
    * big.localCheckpoint()`) would have df's blocks destroyed with
    * truncated lineage, an unrecoverable state this API cannot detect.
    *
    * Returns the number of RDDs swept (observability + tests).
    */
  private[graft] def sweepTransients(
      s: SparkSession,
      blocking: Boolean = false,
      ifOverBytes: Long = 0L): Int = {
    val pinned = pinnedRddIds
    // ifOverBytes > 0: sweep only under real storage pressure. Removal is
    // not free — measured at sf0.1, unconditionally sweeping the ~176
    // queries' small scratch cost 2-17% total wall and doubled run
    // variance, while the scratch itself was nowhere near starving
    // anything. The contamination the sweep exists for needs GB-scale
    // leftovers (sf10), so a byte threshold keeps the insurance and drops
    // the premium: below it the harness leaves cleanup to the
    // ContextCleaner, above it the sweep fires before memory pressure
    // can reshape later queries.
    if (ifOverBytes > 0) {
      val transientBytes = s.sparkContext.getRDDStorageInfo
        .filterNot(i => pinned(i.id))
        .map(i => i.memSize + i.diskSize).sum
      if (transientBytes < ifOverBytes) return 0
    }
    val doomed = s.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => pinned(id) }
    // blocking=true: a timing harness wants block removal to FINISH in the
    // untimed gap between queries — an async removal storm competes with
    // the next query's tasks for the block manager and shows up inside its
    // measured time instead.
    doomed.values.foreach(_.unpersist(blocking))
    doomed.size
  }

  /** The harnesses' sweep threshold: below 2 GiB of transient blocks
    * cleanup is left to the ContextCleaner (see [[sweepTransients]]). */
  private val HarnessSweepOverBytes = 2L << 30

  /** The sweep every harness runs between queries (Bench, Verify). */
  private[graft] def harnessSweep(s: SparkSession, blocking: Boolean): Int =
    sweepTransients(s, blocking, HarnessSweepOverBytes)
}
