package graft
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** The input-size signals [[AutoParts]] derives its per-query
  * `initialPartitionNum` from, read off the optimized logical plan
  * without executing anything (r15; VERDICT r14 item 4). A plain scan
  * total misses the expansion-heavy plans (pair joins, window explodes)
  * whose best manual setting diverged by orders of magnitude
  * (BENCH_sf100_spillAB.json), so the signals also measure what flows
  * INTO the joins, windows and global sorts.
  */
object PlanStats {
  /** Decomposed size signals off the optimized logical plan.
    *
    * Size-only estimation (no CBO) is trustworthy ONLY through stateless
    * operators: a join output's estimate is a children product and an
    * aggregate output's is its input (group count unknown) — both orders
    * of magnitude off (measured: q1's 6-row final sort "estimated" at
    * 10.3 GB through its aggregate; the pair joins at 1e17+). So every
    * signal here is read from a RELIABLE subtree — one containing no Join
    * and no Aggregate — and anything else is deliberately 0.
    *
    * @param scan          sum of scanned-relation estimates (parquet
    *                      footer bytes, column-pruning scaled)
    * @param joinChild     largest reliable join input (both sides of a
    *                      shuffled join move through exchanges)
    * @param selfJoinChild largest reliable input to an INNER join whose
    *                      two sides scan the same relation — the
    *                      candidate-pair-expansion shape (LSH bucket
    *                      self-joins): its post-join volume is a multiple
    *                      of the input, which no static size can see, so
    *                      AutoParts weights this signal up. Semi/anti
    *                      self-joins (q21's exists/not-exists) never
    *                      expand and are excluded.
    * @param winSortChild  largest reliable estimate flowing into a Window
    *                      or global Sort (these buffer every row)
    */
  final case class Signals(
      scan: BigInt,
      joinChild: BigInt,
      selfJoinChild: BigInt,
      winSortChild: BigInt)

  /** Stats at or beyond this are not measurements: Spark assigns
    * `defaultSizeInBytes` (= Long.MaxValue) to nodes it cannot size —
    * notably the LogicalRDDs behind MatCache's localCheckpoints — and
    * width-ratio/Generate multipliers then compound it into astronomic
    * BigInts (measured: 6.9e61 on q_dedup_clusters' checkpointed pair
    * graph). Any such value is UNKNOWN, not huge: treating it as real
    * wrapped BigInt→Long→Int in partsFor to a 1.7-BILLION partition seed
    * and OOM'd the JVM (r16 probe). 1 PiB is far above any real signal
    * here (the sf100 corpus is 16 GB; a 100 TB fleet input still passes)
    * and far below the garbage band (>= 8 EiB).
    */
  private val SaneStatBytes = BigInt(1L << 50)

  def signals(plan: LogicalPlan): Signals = {
    // LogicalRDDs (localCheckpoint materializations — MatCache artifacts,
    // q11's twice-consumed aggregate) carry defaultSizeInBytes-derived
    // stats, not measurements: astronomic (6.9e61 on the checkpointed
    // pair graph) or arbitrarily scaled (3e13 "bytes" for q11's 25-row
    // frame at sf0.1). A subtree containing one is as unknowable as one
    // containing a Join/Aggregate.
    def reliable(p: LogicalPlan): Boolean =
      p.collectFirst {
        case n @ (_: Join | _: Aggregate) => n
        case n: org.apache.spark.sql.execution.LogicalRDD => n
      }.isEmpty
    def sane(b: BigInt): BigInt = if (b >= SaneStatBytes) BigInt(0) else b
    def maxOf(xs: Seq[BigInt]): BigInt =
      if (xs.isEmpty) BigInt(0) else xs.map(sane).max
    def roots(p: LogicalPlan): Set[String] = p.collect {
      case l: LogicalRelation => l.relation match {
        case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          f.location.rootPaths.map(_.toString).mkString(",")
        case other => other.toString
      }
    }.toSet
    val scans = plan.collect { case l: LogicalRelation => l.stats.sizeInBytes }
    val joinIn = plan.collect {
      case j: Join =>
        maxOf(j.children.filter(reliable).map(_.stats.sizeInBytes))
    }
    val selfJoinIn = plan.collect {
      case j: Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
            roots(j.left).intersect(roots(j.right)).nonEmpty =>
        maxOf(j.children.filter(reliable).map(_.stats.sizeInBytes))
    }
    val wsIn = plan.collect {
      case w: Window if reliable(w.child) => w.child.stats.sizeInBytes
      case s: Sort if s.global && reliable(s.child) => s.child.stats.sizeInBytes
    }
    Signals(scans.map(sane).sum, maxOf(joinIn), maxOf(selfJoinIn), maxOf(wsIn))
  }
}
