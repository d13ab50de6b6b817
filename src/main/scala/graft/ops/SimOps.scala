package graft.ops

import graft.{Harness, Q, U}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north star,
  * `BASELINE.json:6`): brute-force cosine top-k as the exactness baseline,
  * all-pairs cosine near-dup, and a random-hyperplane LSH (SimHash for
  * vectors, Charikar 2002) bucketed ANN as the scale path.
  *
  * Scale design (100 TB): brute force is one broadcast of the query vector +
  * a map-side TopK (TakeOrderedAndProject) — linear scan, no shuffle of the
  * vectors; the LSH variant prunes candidates to matching/adjacent hyperplane
  * buckets so the scan becomes a bucket-pruned fraction of the corpus. The
  * all-pairs variant is the oracle-checkable verifier for the multi-table
  * LSH production path ([[embedLshPairs]], `q_dedup_embed_lsh`), which
  * finds the same pairs from bucket collisions instead of O(n²) comparison.
  */
object SimOps {

  /** Deterministic dot product in double (left-to-right multiply-add —
    * mirrored by DuckDB's `list_dot_product` on DOUBLE[] to within 1 ulp,
    * far below the round(4) output granularity). Codegen'd Catalyst
    * expression — see [[graft.functions.VecDot]] for why not
    * `aggregate(zip_with(...))`.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VecDot.vecDot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private val PlaneDim = 64

  /** 8 deterministic random hyperplanes (seed 42) for 64-dim embeddings
    * (query-time ANN buckets, [[qs]] `q_sim_ann_lsh`). */
  private lazy val planes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(8)(Seq.fill(PlaneDim)(rnd.nextGaussian()))
  }

  /** Multi-table LSH geometry for PAIR near-dup ([[embedLshPairs]],
    * [[knnGraph]]) — CORPUS-ADAPTIVE (bits per table, number of tables).
    *
    * A pair with angle θ agrees on one hyperplane with p = 1 - θ/π
    * (Charikar 2002), on all `bits` planes of one table with p^bits, and in
    * ≥ 1 of L tables with 1-(1-p^bits)^L. Rounds 1-10 fixed (bits, L) =
    * (8, 8); the r11 sf10 probe measured why that cannot ship: random
    * collisions grow as n²·L/2^bits — quadratic in corpus size at fixed
    * bits (100× data → ~100× candidate pairs through the bucket join).
    * The scale discipline is the standard Indyk–Motwani parameterization:
    * hold EXPECTED BUCKET OCCUPANCY constant (bits = log₂(n/B), so random
    * collisions stay ~n·B·L — linear), then buy the recall back with more
    * tables: L = ln(1-recallFloor)/ln(1-p^bits) at the design cosine. Each
    * extra bit multiplies the required L by only 1/p ≈ 1.08 at cosine
    * 0.97, so total work (n·bits·L hashing + n·B·L collisions) grows as
    * n·log n — vs n²/2⁸ before. Floors (8, 8) keep every corpus ≤ 2 048
    * vectors on the exact geometry rounds 1-10 shipped (driver scales
    * sf0.01/sf0.1 = 500/2 000 vectors: results byte-identical); caps
    * (24, 32) bound plane count and per-vector hashing cost.
    */
  private val LshMinBits = 8
  private val LshMaxBits = 24
  private val LshMinTables = 8
  private val LshMaxTables = 32
  private val LshTargetOccupancy = 8.0
  private val LshDesignCos = 0.97
  private val LshRecallFloor = 0.95

  /** SemDeDup cell count for a corpus of `n` vectors: k = max(16,
    * ⌈√(n/8)⌉). Assignment costs n·k cosine argmax steps; within-cell
    * pairing costs ~n²/k candidate cosines — k ∝ √n is the balance point
    * where both terms grow as n^1.5 (fixed k leaves pairing quadratic;
    * k ∝ n makes the broadcast-argmax assignment the new quadratic-ish
    * bottleneck since the fold is per-centroid work on every row). Floor
    * 16 keeps every corpus ≤ 2 048 vectors on the exact r1-r10 codebook;
    * driver scales are unchanged (sf0.01/sf0.1 → 16; sf1 → 50; sf10 →
    * 159). The SemDeDup paper's fixed k=50 000 at n ~ 10⁸ sits on the
    * same occupancy curve (√(10⁸/8) ≈ 3 500; theirs is denser because GPU
    * pairwise within a cell is cheap — on Spark the join row count is the
    * cost, so the balanced k is the right default).
    */
  private[graft] def semanticCells(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n / 8.0)).toInt)

  /** (bits, tables) for a corpus of `n` vectors, per the formula above.
    * n=2 000 → (8, 8) (the r1-r10 geometry); 20 000 → (12, 8);
    * 200 000 → (15, 9); 10⁹ → (24, 13).
    */
  private[graft] def lshGeometry(n: Long): (Int, Int) = {
    val bits = math.min(LshMaxBits, math.max(LshMinBits,
      math.ceil(
        math.log(math.max(1.0, n / LshTargetOccupancy)) / math.log(2.0)).toInt))
    val p = 1.0 - math.acos(LshDesignCos) / math.Pi
    val perTable = math.pow(p, bits)
    val tables = math.min(LshMaxTables, math.max(LshMinTables,
      math.ceil(math.log1p(-LshRecallFloor) / math.log1p(-perTable)).toInt))
    (bits, tables)
  }

  /** First `count` deterministic hyperplanes (seed 1234), disjoint per
    * table. Prefix-stable: plane i depends only on its position in the
    * seeded stream, so growing the geometry never changes existing planes
    * (count = 64 reproduces the r1-r10 plane set exactly).
    */
  private val pairPlaneCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[Seq[Double]]]()
  private def pairPlanesFor(count: Int): Seq[Seq[Double]] =
    pairPlaneCache.computeIfAbsent(count, c => {
      val rnd = new scala.util.Random(1234)
      Seq.fill(c)(Seq.fill(PlaneDim)(rnd.nextGaussian()))
    })

  /** (vec_id, embedding, nrm, tbl, bucket) rows for the pair-LSH family
    * under the corpus-adaptive geometry, repartitioned into the one
    * canonical exchange both self-join sides reuse. Input must carry
    * (vec_id, embedding, nrm).
    *
    * The VECTOR rides in the bucketed exchange (r12): the exchange grows
    * to n·tables·~280 B (6.7 GB at 2 M vectors — bounded, linear), and in
    * return the bucket self-join computes every candidate cosine INLINE
    * from co-located vectors. The previous shape — bucket ids only, then
    * two vec_id joins to re-attach embeddings to 10⁷-10⁸ candidate PAIRS —
    * shuffled a full vector per candidate row (the pair side is ~10× the
    * corpus side at design occupancy 8), which the sf100 probe measured as
    * 150+ GB of sort spill: the one exchange that scaled with CANDIDATES
    * instead of the corpus. Per-candidate work rises by the multi-table
    * duplicate factor (~1.3×, codegen dots), a constant traded for the
    * candidate-scaled shuffle.
    */
  private def lshBucketed(n: DataFrame, corpusSize: Long): DataFrame = {
    val (bits, tables) = lshGeometry(corpusSize)
    val planes = pairPlanesFor(bits * tables)
    val tableBuckets = (0 until tables).map { t =>
      hyperplaneBucket(col("embedding"), planes.slice(t * bits, (t + 1) * bits))
    }
    n.select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(array(tableBuckets: _*)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")
      // canonical exchange shared by both self-join sides => the
      // bits·tables plane dot-products per vector run once (ReuseExchange),
      // not per side
      .repartition(col("tbl"), col("bucket"))
  }

  /** Corpus-size guard for the O(n²) exact all-pairs verification twin
    * (`q_dedup_embed_cosine`). The twin exists so the LSH / SemDeDup scale
    * paths have a bit-exact relation to verify against — but nothing in the
    * plan itself stops a nested-loop self-join from being launched on a
    * billion-vector corpus (r10 verdict: the one named scale-killer in the
    * registry). This guard refuses the query outright past a configurable
    * vector count: verification scales (sf0.01 = 500, sf0.1 = 2 000,
    * sf1 probe = 20 000 vectors) pass untouched, while a production-sized
    * corpus gets an actionable error naming the scale-safe siblings instead
    * of an un-completable O(n²) job. The count is one metadata-cheap
    * aggregate over the parquet footers — negligible next to the join it
    * gates. Raise `spark.graft.allpairs.maxVectors` deliberately to run the
    * exact baseline on a larger corpus.
    */
  private[graft] val AllPairsMaxVectorsConf = "spark.graft.allpairs.maxVectors"
  private[graft] val AllPairsMaxVectorsDefault = 100000L
  private def guardAllPairs(s: SparkSession, d: String, key: String): Unit = {
    val limit = s.conf
      .get(AllPairsMaxVectorsConf, AllPairsMaxVectorsDefault.toString).toLong
    val n = U.embeddings(s, d).count()
    if (n > limit) throw new graft.ScaleGuardRefusal(
      s"$key is an O(n^2) exact verification baseline; refused at n=$n " +
        s"vectors (limit $limit, conf $AllPairsMaxVectorsConf). Use the " +
        "scale paths instead: q_dedup_embed_lsh (LSH banding) or " +
        "q_dedup_semantic (within-cell SemDeDup).")
  }

  /** Sign-bit bucket of `emb` against `ps` (bit i = plane i side). Fails
    * fast on a dimension mismatch: VecDot yields null there, and silently
    * mapping null to bucket 0 would collapse the whole corpus into one
    * bucket — the "LSH-pruned" scan would quietly degrade to brute force
    * with no error anywhere.
    */
  private def hyperplaneBucket(emb: Column, ps: Seq[Seq[Double]]): Column = {
    val bits = ps.zipWithIndex
      .map { case (p, i) =>
        when(dot(emb, typedlit(p)) > 0, lit(1 << i)).otherwise(lit(0))
      }
      .reduce(_ + _)
    when(size(emb) === PlaneDim, bits).otherwise(
      raise_error(concat(
        lit(s"embedding dim "), size(emb),
        lit(s" != hyperplane dim $PlaneDim"))))
  }

  private def bucketOf(emb: Column): Column = hyperplaneBucket(emb, planes)

  /** Production-scale embedding near-dup: all pairs with cosine >= `minCos`,
    * candidates from the corpus-adaptive multi-table hyperplane-LSH bucket
    * joins ([[lshGeometry]] — never all pairs), exact cosine re-rank on
    * candidates only. Mirrors the MinHash banding plan shape: buckets
    * shuffle (vec_id, table, bucket) triples — NOT vectors — through one
    * canonical exchange shared by both self-join sides (ReuseExchange);
    * vectors join back in only for the surviving candidate pairs. Cost is
    * O(n·L + collisions) with collisions held linear by the occupancy-
    * constant geometry; recall per the [[lshGeometry]] formula is a
    * tunable, not a hope — the ScalaTest twin (DedupSimSpec) measures it
    * against planted near-dups.
    */
  def embedLshPairs(s: SparkSession, d: String, minCos: Double): DataFrame = {
    val base = U.embeddings(s, d)
    // one metadata-cheap count picks the adaptive geometry (same cost
    // class as the all-pairs guard's count; parquet footers only)
    val corpusSize = base.count()
    val n = base
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val bucketed = lshBucketed(n, corpusSize)
    // cosine computed INLINE from the co-located vectors (identical
    // expression tree as the pre-r12 two-join form: dot(a,b)/(na·nb),
    // round 4 — a<b operand order, so the emitted bits are unchanged);
    // the minCos cut applies BEFORE the distinct, so the dedup exchange
    // carries only (a, b, cos) rows that already passed the threshold
    val cos = round(
      dot(col("x.embedding"), col("y.embedding")) /
        (col("x.nrm") * col("y.nrm")), 4)
    bucketed
      .as("x")
      .join(
        bucketed.as("y"),
        col("x.tbl") === col("y.tbl") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"), cos.as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .distinct()
      .orderBy("a", "b")
  }

  /** Nearest-centroid assignment, MAP-SIDE: the k centroids ride a
    * broadcast 1-row array and the cosine argmax is a fold over that array
    * per vector — no exploded (vector, cell) rows and no exchange carrying
    * vectors (the MLlib kmeans shape, declaratively; the fold's lambda is
    * interpreted but each step calls the codegen'd [[dot]] kernel). The
    * (csim, cell) lexicographic max is order-independent, so the
    * non-deterministic collect_list order cannot leak into the result.
    * Input must carry (vec_id, embedding, nrm); output adds (cell, csim).
    *
    * r19 measured-and-kept-as-is: unrolling this argmax the way
    * [[bestPqCell]] was unrolled in r18 LOSES here, twice over. A
    * `greatest(struct(csim, cell) × k)` chain over a dense sentinel-padded
    * centroid array (bit-identical selection, dump-equality green) ran
    * q_dedup_semantic +10-30% at k = 16 (sf0.1) and +30% at k = 32 (sf1
    * probe, 1.9 → 2.4 s count); a primitive two-phase form (greatest over
    * k double columns, then a null-skipping greatest argmax over cells)
    * was 4x WORSE (8.2 s) — CollapseProject/CSE re-inlined the k cosines
    * into the k equality probes. The difference from the PQ win: the
    * fold's per-step work HERE is one 64-dim [[dot]] — a compiled kernel
    * invoked via nullSafeEval — so interpretation is thin glue around real
    * work, while PQ paid 4 folds x 64 interpreted steps of 16-dim slices
    * per row. The fold also allocates only on argmax improvements;
    * the unrolled chains allocate/compare k structs per row inside one
    * oversized generated method. Measured at two scales, two shapes; the
    * fold stays.
    */
  private[graft] def assignCells(e: DataFrame, cents: DataFrame): DataFrame = {
    val centsRow = cents
      .agg(collect_list(struct(col("cell"), col("cv"), col("cnrm"))).as("cbs"))
    // a zero-norm embedding would make every cosine NaN, which fails every
    // comparison — the fold would return cell = -1 while the driver-side
    // twin's Scala .max treats NaN as largest: fail LOUDLY instead of
    // letting the two tie-break semantics silently diverge
    val safeNrm = when(col("nrm") > 0, col("nrm"))
      .otherwise(raise_error(
        concat(lit("assignCells: zero-norm embedding vec_id="), col("vec_id"))))
    e.crossJoin(broadcast(centsRow))
      .withColumn(
        "best",
        aggregate(
          col("cbs"),
          struct(lit(-2.0).as("csim"), lit(-1L).as("cell")),
          (acc, cb) => {
            val cs = dot(col("embedding"), cb.getField("cv")) /
              (safeNrm * cb.getField("cnrm"))
            when(
              cs > acc.getField("csim") ||
                (cs === acc.getField("csim") &&
                  cb.getField("cell") > acc.getField("cell")),
              struct(cs.as("csim"), cb.getField("cell").as("cell")))
              .otherwise(acc)
          }))
      .select(
        col("vec_id"),
        col("embedding"),
        col("nrm"),
        col("best").getField("cell").as("cell"),
        col("best").getField("csim").as("csim"))
  }

  /** Spherical k-means codebook trainer — the assign→re-center loop that
    * turns `q_embed_centroids`' single Lloyd step into a TRAINED codebook
    * for `q_sim_ann_ivf` (real IVF systems train offline on a sample; this
    * is that job, engine-side). Per iteration: one broadcast of the k
    * centroids + cosine argmax per vector (map-side; deterministic
    * (csim, cell) tie-break to the higher cell), then new centroids as
    * component means via posexplode — the one exchange carries k × dims
    * partial-agg rows, independent of corpus size, so the loop costs
    * O(iters) scans at 100 TB with no vector shuffle anywhere. Centroid
    * components are micro-int means (exact long sums, one double division)
    * so the result is deterministic at any parallelism; an emptied cell
    * keeps its previous centroid. Lineage is cut per iteration
    * (localCheckpoint — same discipline as `connectedComponents`; the
    * frame is k rows, so the checkpoint is trivially cheap).
    *
    * Training corpus is vec_id >= 1 (vec 0 is the ANN family's probe
    * vector); init centroids are the first k corpus vectors — the previous
    * IVF stand-in, now the SEED instead of the final codebook.
    *
    * Returns (cell BIGINT, cv ARRAY<DOUBLE>, cnrm DOUBLE). DedupSimSpec
    * pins the whole loop against an exact driver-side simulation.
    */
  def trainCodebook(
      s: SparkSession,
      d: String,
      k: Int = 16,
      iters: Int = 3): DataFrame =
    // trained once per (corpus, k, iters) and shared by the whole ANN
    // family (IVF, IVF-PQ, SemDeDup, q_embed_kmeans) — the offline
    // codebook-training job, engine-side; the frame is k rows
    graft.MatCache.df(s, s"codebook:$d:$k:$iters") {
      trainCodebookUncached(s, d, k, iters)
    }

  private def trainCodebookUncached(
      s: SparkSession,
      d: String,
      k: Int,
      iters: Int): DataFrame = {
    val e = U.embeddings(s, d)
      .filter(col("vec_id") >= 1)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    var cents = e
      .filter(col("vec_id").between(1, k))
      .select(
        col("vec_id").as("cell"),
        col("embedding").cast("array<double>").as("cv"))
      .withColumn("cnrm", norm(col("cv")))
      .transform(U.ckpt(_, "codebook_seed"))
    for (_ <- 1 to iters) {
      cents = recentered(cents, assignCells(e, cents), Seq("cell"), "embedding")
        .withColumn("cnrm", norm(col("cv")))
        .transform(U.ckpt(_, "codebook_iter"))
    }
    cents
  }

  /** One Lloyd re-centering step, shared by [[trainCodebook]] and
    * [[trainPqCodebooks]]. `assigned` holds the `keys` of each vector's
    * centroid and the vector in column `vec`; the new centroid of a key is
    * the component mean of its vectors in micro-integer units (an exact
    * long sum of floor(x·1e6 + 0.5) per (key, pos), one double division,
    * components ordered by pos), so it is deterministic at any
    * parallelism. Left-joined to the previous centroids `prev` (keys,
    * `cv`), a key that lost every vector keeps its previous centroid.
    * Returns (keys, cv).
    */
  private def recentered(
      prev: DataFrame,
      assigned: DataFrame,
      keys: Seq[String],
      vec: String): DataFrame = {
    val k = keys.map(col)
    val next = assigned
      .select(k :+ posexplode(col(vec)): _*)
      .groupBy(k :+ col("pos"): _*)
      .agg(
        sum(floor(col("col").cast("double") * 1000000 + 0.5).cast("long"))
          .as("sm"),
        count(lit(1)).as("n"))
      .select(k ++ Seq(
        col("pos"),
        (col("sm").cast("double") / col("n") / 1000000.0).as("c")): _*)
      .groupBy(k: _*)
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("next_cv"))
    prev
      .select(k :+ col("cv").as("prev_cv"): _*)
      .join(next, keys, "left")
      .select(k :+ coalesce(col("next_cv"), col("prev_cv")).as("cv"): _*)
  }

  /** IVF (inverted-file) ANN search body, parameterized by codebook
    * training depth so DedupSimSpec can regression-compare recall of the
    * TRAINED codebook (`codebookIters = 3`) against the raw first-16-seed
    * (`codebookIters = 0` — [[trainCodebook]]'s loop body never runs and
    * the seed centroids come back verbatim). Assign every vector to its
    * nearest codebook cell (one broadcast of the 16-entry codebook + a
    * map-side argmax fold — no shuffle of the vectors), then search only
    * the query's `nprobe` nearest cells with exact cosine re-rank.
    */
  private[graft] def ivfTopK(
      s: SparkSession,
      d: String,
      codebookIters: Int,
      nprobe: Int = 2,
      k: Int = 10): DataFrame = {
    val NumCells = 16
    val e = U.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val cents = trainCodebook(s, d, NumCells, codebookIters)
    val qv = e.filter(col("vec_id") === 0)
    val qcells = qv
      .crossJoin(broadcast(cents))
      .select(
        col("cell"),
        (dot(col("embedding"), col("cv")) / (col("nrm") * col("cnrm")))
          .as("csim"))
      .orderBy(col("csim").desc, col("cell"))
      .limit(nprobe)
      .select(col("cell"))
    val q = qv.select(col("embedding").as("qv"), col("nrm").as("qnrm"))
    assignCells(e.filter(col("vec_id") =!= 0), cents)
      .join(broadcast(qcells), "cell")
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        col("cell"),
        (dot(col("embedding"), col("qv")) / (col("nrm") * col("qnrm")))
          .as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cell"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  val qs: Seq[Q] = Seq(
    // Brute-force cosine top-k against the vec_id=0 query vector.
    Q(
      "q_sim_topk",
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id,
        |  round(list_dot_product(e, qv) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
        |FROM n, q
        |ORDER BY list_dot_product(e, qv) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))) DESC, vec_id
        |LIMIT 20""".stripMargin) { (s, d) =>
      val e = U.embeddings(s, d)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(
          col("vec_id"),
          (dot(col("embedding"), col("qv")) /
            (norm(col("embedding")) * norm(col("qv")))).as("cos_raw"))
        .orderBy(col("cos_raw").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"), round(col("cos_raw"), 4).as("cos_sim"))
    },

    // All-pairs embedding near-dup at cosine >= 0.35 (synthetic embeddings
    // are random — max pairwise cosine ~0.48 — so the threshold is set to
    // exercise the operator; the pair semantics are what's verified).
    Q(
      "q_dedup_embed_cosine",
      """WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cos_sim
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= 0.35
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      guardAllPairs(s, d, "q_dedup_embed_cosine")
      val n = U
        .embeddings(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val cos = round(
        dot(col("x.embedding"), col("y.embedding")) / (col("x.nrm") * col("y.nrm")),
        4)
      // threshold inside the join condition: the nested-loop join evaluates
      // the cosine once per candidate pair and only materializes survivors
      // (~0.2% here) instead of emitting all O(n^2) pairs and filtering after
      n.as("x")
        .join(n.as("y"), col("x.vec_id") < col("y.vec_id") && cos >= 0.35)
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"), cos.as("cos_sim"))
        .orderBy("a", "b")
    },

    // LSH-bucketed embedding near-dup — the scale path q_dedup_embed_cosine
    // verifies for. Hash-dependent (recall < 1 by design) => no SQL oracle;
    // DedupSimSpec asserts precision=1 vs the exact all-pairs twin on
    // testdata and >= 90% recall on planted cosine-0.97 near-dups.
    Q.noOracle("q_dedup_embed_lsh") { (s, d) => embedLshPairs(s, d, 0.35) },

    // LSH-bucketed approximate top-k, served from the STORED index (r18):
    // candidates are the query's hyperplane bucket plus its 8 hamming-1
    // probes — 9 literal partition values, so the scan reads 9 of 256
    // bucket directories instead of recomputing buckets over the corpus —
    // then exact cosine on the pruned set. Bit-identical to the pre-r18
    // in-session plan (AnnIndexSpec). Hash-dependent => ScalaTest verifies
    // candidates' cosines against brute force; driver records rows-only.
    Q.noOracle("q_sim_ann_lsh") { (s, d) => lshTopKStored(s, d) },

    // Symmetric int8 quantization per vector (embedding compression — 4x
    // smaller than float32 at ~1% cosine error, the standard serving-side
    // trade): q_i = round(x_i * 127 / max|x|), done as floor(v + 0.5) so
    // both engines round identically. An all-zero vector (amax = 0) would
    // make the division 0/0 = NaN — Spark nulls it on cast while DuckDB
    // ERRORS on CAST(NaN AS BIGINT) — so both sides pin q_i = 0 when
    // amax = 0 (the correct quantization of the zero vector). Pure
    // per-row codegen'd scan, zero shuffle — at 100 TB this is the map
    // stage before writing a compact ANN index.
    Q(
      "q_embed_quantize",
      """WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |s AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS amax FROM n)
        |SELECT vec_id, round(amax, 6) AS amax,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(e[1] * 127.0 / amax + 0.5) AS BIGINT) END AS q0,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(e[2] * 127.0 / amax + 0.5) AS BIGINT) END AS q1,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(e[3] * 127.0 / amax + 0.5) AS BIGINT) END AS q2,
        |  CASE WHEN amax = 0 THEN 0 ELSE
        |    list_reduce(list_transform(e, x -> CAST(floor(x * 127.0 / amax + 0.5) AS BIGINT)),
        |                (a, b) -> a + b) END AS q_sum
        |FROM s ORDER BY vec_id""".stripMargin) { (s, d) =>
      // the raw max must NOT share a name with the rounded output column:
      // lambda bodies resolve lazily, and Spark's lateral-column-alias pass
      // rebinds col("amax") inside the aggregate() lambda to the rounded
      // sibling alias while the top-level q0..q2 keep the raw input — two
      // different divisors in one select, off-by-one on boundary elements
      def qz(x: Column): Column =
        when(col("amax_raw") === 0, 0L)
          .otherwise(
            floor(x.cast("double") * 127.0 / col("amax_raw") + 0.5).cast("long"))
      U.embeddings(s, d)
        .select(
          col("vec_id"),
          col("embedding"),
          array_max(transform(col("embedding"), x => abs(x.cast("double"))))
            .as("amax_raw"))
        .select(
          col("vec_id"),
          round(col("amax_raw"), 6).as("amax"),
          qz(element_at(col("embedding"), 1)).as("q0"),
          qz(element_at(col("embedding"), 2)).as("q1"),
          qz(element_at(col("embedding"), 3)).as("q2"),
          aggregate(
            transform(col("embedding"), x => qz(x)),
            lit(0L),
            (a, b) => a + b).as("q_sum"))
        .orderBy("vec_id")
    },

    // IVF (inverted-file) ANN: assign every vector to its nearest codebook
    // centroid cell (one broadcast of the 16-entry codebook + a map-side
    // argmax fold — no shuffle of the vectors), then search only the
    // query's nprobe=2 nearest cells with exact cosine re-rank. The
    // codebook is TRAINED: [[trainCodebook]] runs 3 spherical-k-means
    // iterations seeded from the first 16 corpus vectors (the round-6
    // stand-in is now the seed, not the codebook), so cell boundaries
    // follow the data — the usual recall-at-fixed-nprobe lever. Hash-free
    // but codebook-dependent => no SQL oracle; DedupSimSpec checks every
    // returned cosine against the brute-force ranking.
    //
    // r18: served from the STORED index — the trained codebook and the
    // cell-partitioned inverted lists are parquet artifacts
    // ([[buildAnnIndex]]); a query partition-prunes to its nprobe cell
    // directories instead of re-assigning the corpus per call.
    // Bit-identical to ivfTopK(codebookIters = 3) (AnnIndexSpec).
    Q.noOracle("q_sim_ann_ivf") { (s, d) => ivfTopKStored(s, d) },

    // Per-label embedding centroids — the k-means/IVF codebook training
    // step (q_sim_ann_ivf consumes a codebook; this is how one is built
    // from labeled or cluster-assigned vectors). posexplode fans each
    // vector into (pos, component) pairs map-side; the one exchange is the
    // (label, pos) partial aggregate, whose cardinality is labels × dims —
    // independent of corpus size, so the reduce side stays tiny at 100 TB.
    // Exactness: a float→DECIMAL cast is NOT cross-engine safe (Spark and
    // DuckDB round a float's long decimal expansion differently at the
    // 1e-6 digit — observed as a 1-ulp centroid mismatch), so components
    // are micro-scaled explicitly in DOUBLE space: widen float→double
    // (exact), ×1e6, floor(x+0.5) — every step the same IEEE op in both
    // engines — then summed as exact integers.
    Q(
      "q_embed_centroids",
      """WITH flat AS (
        |  SELECT label,
        |    unnest(embedding) AS v,
        |    unnest(generate_series(1, len(embedding))) AS pos
        |  FROM embeddings),
        |m AS (
        |  SELECT label, pos,
        |    CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vm
        |  FROM flat)
        |SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
        |  CAST(sum(vm) AS BIGINT) AS sum_micro, count(*) AS n_vecs,
        |  round(CAST(sum(vm) AS DOUBLE) / count(*) / 1000000.0, 6) AS centroid
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val vm = floor(col("col").cast("double") * 1000000 + 0.5).cast("long")
      U.embeddings(s, d)
        .select(
          col("label").cast("long").as("label"),
          posexplode(col("embedding")))
        .select(
          col("label"),
          (col("pos") + 1).cast("long").as("pos"),
          vm.as("vm"))
        .groupBy(col("label"), col("pos"))
        .agg(
          sum(col("vm")).as("sum_micro"),
          count(lit(1)).as("n_vecs"),
          round(sum(col("vm")).cast("double") / count(lit(1)) / 1000000.0, 6)
            .as("centroid"))
        .orderBy("label", "pos")
    },

    // Trained k-means codebook, exposed: 3 spherical-k-means iterations
    // ([[trainCodebook]]) then the final assignment summarized per cell —
    // cluster population and mean cosine-to-centroid (the quantization
    // quality IVF recall rides on). The mean cosine is a micro-int mean
    // (each per-vector cosine is a deterministic double; floor(x*1e6+0.5)
    // to a long, exact sum, one division) so the output is deterministic
    // at any parallelism. no_oracle: codebook-dependent (the whole loop is
    // pinned against an exact driver-side simulation in DedupSimSpec).
    Q.noOracle("q_embed_kmeans") { (s, d) =>
      val e = U.embeddings(s, d)
        .filter(col("vec_id") >= 1)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      assignCells(e, trainCodebook(s, d, 16, 3))
        .select(
          col("cell"),
          floor(col("csim") * 1000000 + 0.5).cast("long").as("cm"))
        .groupBy(col("cell"))
        .agg(
          count(lit(1)).as("n_vecs"),
          (sum(col("cm")).cast("double") / count(lit(1)) / 1000000.0)
            .as("avg_cos"))
        .orderBy("cell")
    },

    // Cosine range search: ALL vectors within cosine >= 0.3 of the query
    // vector — the radius-query sibling of q_sim_topk (dedup-threshold
    // scans and diversity filters want "everything this close", not a
    // fixed k). Same plan as the brute-force top-k minus the limit: one
    // broadcast of the query vector, codegen'd map-side cosine, the
    // threshold filters BEFORE any exchange so only survivors reach the
    // final order — at 100 TB this is a full scan by design (the exact
    // baseline; the LSH/IVF buckets above are the pruned path).
    // Scale audit (r10 advice): unlike q_dedup_embed_cosine this is O(n)
    // per query — one cosine per corpus vector against ONE broadcast
    // vector, zero shuffle of the corpus — i.e. an embarrassingly parallel
    // map stage, not the O(n²) self-join class, so it carries no
    // corpus-size guard. Cost grows linearly with the corpus exactly like
    // any other full-column scan in the registry.
    Q(
      "q_sim_range_search",
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id,
        |  round(list_dot_product(e, qv) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
        |FROM n, q
        |WHERE round(list_dot_product(e, qv) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))), 4) >= 0.3
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = U.embeddings(s, d)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val cos = round(
        dot(col("embedding"), col("qv")) / (norm(col("embedding")) * norm(col("qv"))),
        4)
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), cos.as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .orderBy("vec_id")
    },

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup at
    // corpus scale — cluster embeddings with the trained k-means codebook,
    // then compare pairs ONLY within a cluster, pruning the higher vec_id
    // of any within-cell pair above the cosine threshold (keep-min-id, the
    // same canonical-representative rule as the exact dedup family).
    // Output: one row per PRUNED vector with its cell, its canonical
    // keeper (the minimum within-cell duplicate partner), and that pair's
    // cosine. Scale: vectors shuffle ONCE into cells (one exchange,
    // reused by both self-join sides); pair comparison is O(sum of
    // cell^2), never the all-pairs O(n^2) — and k GROWS with the corpus
    // ([[semanticCells]]: k ∝ √n, the balance point where the n·k
    // assignment cost and the n²/k within-cell pair cost meet at n^1.5;
    // r1-r10's fixed k=16 left the pair term quadratic, which the r11
    // sf10 probe measured). no_oracle: codebook-dependent; DedupSimSpec
    // asserts precision 1 against all-pairs q_dedup_embed_cosine (every
    // pruned pair is a real pair, bit-identical cosine) and recall on
    // planted near-dups.
    Q.noOracle("q_dedup_semantic") { (s, d) =>
      val MinCos = 0.35
      val e = U.embeddings(s, d)
        .filter(col("vec_id") >= 1)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val k = semanticCells(U.embeddings(s, d).count())
      val assigned = assignCells(e, trainCodebook(s, d, k, 3))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
        .repartition(col("cell"))
      val cos = round(
        dot(col("x.embedding"), col("y.embedding")) / (col("x.nrm") * col("y.nrm")),
        4)
      assigned.as("x")
        .join(
          assigned.as("y"),
          col("x.cell") === col("y.cell") &&
            col("x.vec_id") < col("y.vec_id") && cos >= MinCos)
        .select(
          col("y.vec_id").as("vec_id"),
          col("y.cell").as("cell"),
          struct(col("x.vec_id").as("dup_of"), cos.as("cos_sim")).as("m"))
        .groupBy(col("vec_id"), col("cell"))
        // min struct = lexicographic: the MINIMUM dup_of (keep-min-id rule)
        // and that exact pair's cosine — deterministic, dup_of is unique
        .agg(min(col("m")).as("m"))
        .select(
          col("vec_id"),
          col("cell"),
          col("m").getField("dup_of").as("dup_of"),
          col("m").getField("cos_sim").as("cos_sim"))
        .orderBy("vec_id")
    },

    // k-NN graph over the whole corpus (k = 3): every vector's top-k
    // nearest neighbors by exact cosine, candidates from the same
    // multi-table hyperplane LSH as [[embedLshPairs]] — the graph ANN
    // indexes (HNSW/NN-Descent), cluster manifolds, and graph-based
    // diversity sampling all start from. DIRECTED (src -> dst is not
    // dst -> src): candidates are generated symmetrically (x != y, both
    // orientations of each bucket collision) and ranked per src by exact
    // cosine desc with dst as the deterministic tie-break. Scale: the
    // bucket triples shuffle through one canonical exchange shared by
    // both self-join sides (ReuseExchange); vectors join back only for
    // surviving candidates; the final per-src top-k is one window over
    // the candidate set — O(n·L + collisions), never O(n²). no_oracle:
    // LSH-candidate-dependent; DedupSimSpec asserts every emitted edge
    // carries the bit-exact recomputed cosine and that planted cosine-0.9
    // near-duplicates find their partner as the rank-1 neighbor.
    Q.noOracle("q_sim_knn_graph") { (s, d) => knnGraph(s, d, 3) },

    // Product-quantization codes for every corpus vector: 4 subspaces of
    // 16 dims, 16 L2-trained centroids each ([[trainPqCodebooks]]) → four
    // 4-bit codes = 2 bytes per vector vs 256 float bytes, the 128× index
    // compression real billion-vector ANN serving rides on (IVF-PQ).
    // Encoding is ONE map-side scan: the 64-entry codebook rides a 1-row
    // broadcast and each code is a fold-argmin over the vector's subspace
    // slice — vectors never shuffle, nothing is exploded. no_oracle:
    // codebook-dependent; DedupSimSpec replays training AND encoding
    // driver-side and asserts every code matches bit for bit.
    Q.noOracle("q_embed_pq") { (s, d) =>
      withPqCodes(
        U.embeddings(s, d)
          .filter(col("vec_id") >= 1)
          .select(col("vec_id"), col("embedding")),
        trainPqCodebooks(s, d))
        .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"))
        .orderBy("vec_id")
    },

    // IVF-PQ ANN — the full billion-scale serving shape: coarse IVF cells
    // prune the corpus to nprobe=4 of 16 cells, PQ codes + an ADC lookup
    // table rank the survivors WITHOUT touching raw vectors, and only the
    // top-50 shortlist pays an exact-cosine re-rank. At 100 TB the scan
    // reads 2-byte codes for candidates instead of 256-byte vectors — the
    // asymmetric-distance trick (Jégou et al., TPAMI 2011) — and every
    // stage is map-side against broadcasts until the final TakeOrdered.
    // no_oracle: codebook-dependent; DedupSimSpec asserts returned cosines
    // are bit-identical to the brute-force ranking's and measures planted
    // recall.
    //
    // r18: served from the STORED index — codebooks, 2-byte PQ codes and
    // the IVF-Flat lists are parquet artifacts; the ADC candidate scan
    // reads codes from the pruned cell directories and only the shortlist
    // fetches vectors (from the same pruned cells) for the exact re-rank.
    // Bit-identical to ivfpqTopK (AnnIndexSpec).
    Q.noOracle("q_sim_ann_ivfpq") { (s, d) => ivfpqTopKStored(s, d) }
  )

  /** The q_sim_knn_graph kernel, parameterized by k so the DedupSimSpec
    * planted-neighbor harness can run it against its own fixture directory.
    */
  def knnGraph(s: SparkSession, d: String, k: Int): DataFrame = {
    val base = U.embeddings(s, d)
    val corpusSize = base.count()
    val n = base
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val bucketed = lshBucketed(n, corpusSize)
    // cosine INLINE from the co-located vectors — identical expression
    // tree as the pre-r12 two-join form (dot(src,dst)/(ns·nd), round 4),
    // so the emitted bits are unchanged; see [[lshBucketed]] for why the
    // vector rides the bucket exchange instead of joining onto candidates
    val cos = round(
      dot(col("x.embedding"), col("y.embedding")) /
        (col("x.nrm") * col("y.nrm")), 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    bucketed
      .as("x")
      .join(
        bucketed.as("y"),
        col("x.tbl") === col("y.tbl") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"), cos.as("cos_sim"))
      // r18: one exchange instead of two — partitioning the candidate
      // pairs by src alone still clusters (src, dst, cos) for the dedup
      // aggregate (hash(src) co-locates every dst of a src) AND is exactly
      // the distribution the top-k window needs, so the window runs on the
      // dedup's output with no second exchange (before: distinct exchanged
      // on the full pair key, then the window re-exchanged on src)
      .repartition(col("src"))
      .distinct()
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"), col("cos_sim"), col("rk"))
      .orderBy("src", "rk")
  }

  // ---- Product quantization (q_embed_pq / q_sim_ann_ivfpq) ----

  /** PQ geometry: [[PqM]] subspaces of [[PqSubDim]] dims each
    * (PqM·PqSubDim = PlaneDim = the embedding dim), [[PqK]] centroids per
    * subspace → PqM 4-bit codes per vector.
    */
  private[graft] val PqM = 4
  private[graft] val PqSubDim = 16
  private[graft] val PqK = 16

  /** Squared L2 of subvector `sv` against codebook entry `cb`:
    * (svv − 2·⟨sv,cv⟩) + cvv with the parenthesization PINNED (svv and cvv
    * are the precomputed self-dots) so the DedupSimSpec driver twin can
    * replay every assignment bit-exact. Division-free — no NaN path, so
    * unlike the cosine fold there is no zero-norm hazard.
    */
  private def l2sq(sv: Column, svv: Column, cb: Column): Column =
    (svv - lit(2.0) * dot(sv, cb.getField("cv"))) + cb.getField("cvv")

  /** Argmin cell for subspace `sub`: minimizes (d2, cell) lexicographically
    * over that subspace's codebook entries, ties to the LOWER cell.
    *
    * r18: UNROLLED over the PqK (= 16, a compile-time constant) candidate
    * cell ids as a `least(struct(d2, cell), ...)` chain over keyed map
    * lookups instead of the r12-r17 `aggregate()` fold — higher-order
    * functions are CodegenFallback, so the fold interpreted 64 lambda
    * steps (each an interpreted 16-dim dot) per (vector, subspace) and
    * broke whole-stage codegen for the encode stage; the unrolled form is
    * pure codegen arithmetic (measured q_embed_pq hash 1.79 → 0.84 s at
    * sf0.1, OPTIMIZATION_r18.md). Selection is bit-identical: least()
    * over structs is the lexicographic (d2, cell) minimum, which equals
    * the fold's strict-less-or-tie-lower scan in any entry order; a
    * missing (sub, cell) slot (partial codebooks exist — fixture corpora
    * smaller than PqK seed fewer cells) holds a SENTINEL entry whose
    * d2 evaluates +Infinity with cell Long.MaxValue, so it loses every
    * comparison exactly as the fold never visited it (a per-candidate
    * null guard was A/B'd: the CaseWhen layer blew the codegen budget
    * and ran ~2 s — branch-free sentinel padding keeps the 0.84 s tree);
    * d2 can never be -0.0 (cvv is a from-+0.0 dot and svv − 2⟨sv,cv⟩
    * produces +0.0 on equality), so double-compare and struct-ordering
    * zeros agree.
    */
  private def bestPqCell(
      cbs: Column,
      sub: Column,
      sv: Column,
      svv: Column): Column = {
    val cands = (1 to PqK).map { c =>
      val cb = element_at(cbs, (sub * PqK + c).cast("int"))
      struct(l2sq(sv, svv, cb).as("d2"), cb.getField("cell").as("cell"))
    }
    least(cands: _*).getField("cell")
  }

  /** The four per-subspace codebooks as one 1-row broadcastable frame: a
    * DENSE positional array of PqM·PqK slots where slot sub·PqK + cell
    * holds that cell's (cell, cv, cvv) struct — or the never-wins
    * sentinel (cell Long.MaxValue, zero vector, cvv +Infinity) for cells
    * a partial codebook never seeded (fixture corpora smaller than PqK) —
    * so [[bestPqCell]]'s unrolled lookups are plain array indexing. The
    * higher-order densify runs ONCE per broadcast build over ≤ 64
    * entries, not per probed row (a keyed-map variant was A/B'd: the
    * per-row MapData probes cost 2.2 s hash vs 0.84 s for this form).
    */
  private def pqBooksRow(books: DataFrame): DataFrame = {
    val sentinel = struct(
      lit(Long.MaxValue).as("cell"),
      array_repeat(lit(0.0), PqSubDim).as("cv"),
      lit(Double.PositiveInfinity).as("cvv"))
    books
      .agg(collect_list(struct(
        (col("sub") * PqK + col("cell")).cast("int").as("k"),
        struct(col("cell"), col("cv"), col("cvv")).as("cb"))).as("lst"))
      .select(transform(
        sequence(lit(1), lit(PqM * PqK)),
        k => coalesce(
          try_element_at(
            filter(col("lst"), e => e.getField("k") === k), lit(1))
            .getField("cb"),
          sentinel)).as("cbs"))
  }

  /** Per-subspace L2 k-means codebook trainer — [[trainCodebook]]'s
    * discipline applied to PQ: per iteration ONE broadcast of the
    * PqM·PqK-entry codebook + a map-side argmin per (vector, subspace),
    * then re-centering as micro-int component means whose one exchange
    * carries at most PqM·PqK·PqSubDim = 1024 partial rows — independent of
    * corpus size, so training costs O(iters) scans at 100 TB with no
    * vector shuffle. Init: subspace slices of the first PqK corpus
    * vectors; an emptied cell keeps its previous centroid; lineage cut per
    * iteration (the frame is 64 rows). Returns (sub, cell, cv, cvv).
    */
  def trainPqCodebooks(s: SparkSession, d: String, iters: Int = 3): DataFrame =
    // shared by q_embed_pq and q_sim_ann_ivfpq — same once-per-session
    // discipline as [[trainCodebook]]; the frame is PqM·PqK = 64 rows
    graft.MatCache.df(s, s"pqbooks:$d:$iters") {
      trainPqCodebooksUncached(s, d, iters)
    }

  private def trainPqCodebooksUncached(
      s: SparkSession,
      d: String,
      iters: Int): DataFrame = {
    val emb = col("embedding").cast("array<double>")
    val e = U.embeddings(s, d)
      .filter(col("vec_id") >= 1)
      .select(
        col("vec_id"),
        posexplode(array((0 until PqM).map(i =>
          slice(emb, i * PqSubDim + 1, PqSubDim)): _*)))
      .withColumnRenamed("pos", "sub")
      .withColumnRenamed("col", "sv")
      .withColumn("svv", dot(col("sv"), col("sv")))
    var books = e
      .filter(col("vec_id").between(1, PqK))
      .select(col("sub"), col("vec_id").as("cell"), col("sv").as("cv"))
      .withColumn("cvv", dot(col("cv"), col("cv")))
      .transform(U.ckpt(_, "pqbooks_seed"))
    for (_ <- 1 to iters) {
      val assigned = e
        .crossJoin(broadcast(pqBooksRow(books)))
        .select(
          col("sub"),
          bestPqCell(col("cbs"), col("sub"), col("sv"), col("svv")).as("cell"),
          col("sv"))
      books = recentered(books, assigned, Seq("sub", "cell"), "sv")
        .withColumn("cvv", dot(col("cv"), col("cv")))
        .transform(U.ckpt(_, "pqbooks_iter"))
    }
    books
  }

  /** Appends PQ code columns c0..c{PqM-1} to `df` (which must carry
    * `embedding`) — one map-side scan against the broadcast codebooks,
    * nothing exploded, no shuffle.
    */
  private def withPqCodes(df: DataFrame, books: DataFrame): DataFrame = {
    val emb = col("embedding").cast("array<double>")
    val codes = (0 until PqM).map { i =>
      val sv = slice(emb, i * PqSubDim + 1, PqSubDim)
      bestPqCell(col("cbs"), lit(i), sv, dot(sv, sv)).as(s"c$i")
    }
    df.crossJoin(broadcast(pqBooksRow(books)))
      .select(df.columns.toIndexedSeq.map(col) ++ codes: _*)
  }

  /** Occupancy-adaptive ADC shortlist: floor 50, plus one exact-re-rank
    * slot per 1000 estimated ADC candidates (n·nprobe/cells). The r18
    * sf100 probe caught the fixed 50 as a silent scale cap: at 2 M
    * vectors the shortlist covered 1e-4 of the ~500 k probed candidates
    * (vs 10% at fixture scale) and recall@10 sagged to 0.80
    * (CORRECTNESS_sf100anntopk, first pass) — the classic fixed-k
    * degradation every occupancy-adaptive knob in this engine exists to
    * prevent (lshGeometry, semanticCells, SemDeDup's k ∝ √n). The exact
    * tail stays ~0.1% of the candidate scan, so the adaptive form keeps
    * the ADC asymmetry intact; below ~200 k vectors the floor reproduces
    * the historical 50 exactly (gate outputs bit-unchanged).
    */
  private[graft] def adaptiveShortlist(
      nVectors: Long,
      nprobe: Int,
      cells: Int = 16): Int =
    math.min(math.max(50L, nVectors * nprobe / cells / 1000L), 100000L).toInt

  /** IVF-PQ search body: coarse IVF cells prune to `nprobe` of 16, ADC
    * (precomputed ⟨q_sub, centroid⟩ lookup table, map keys sub·32+cell)
    * ranks candidates from their 4 codes alone in a fixed-order 4-term
    * sum (deterministic — each element_at is an exact lookup), the top
    * `shortlist` pay the exact cosine, and the final top `k` report
    * round(cos, 4) like the rest of the ANN family. `shortlist = 0`
    * (default) = occupancy-adaptive ([[adaptiveShortlist]]).
    */
  private[graft] def ivfpqTopK(
      s: SparkSession,
      d: String,
      nprobe: Int = 4,
      shortlist: Int = 0,
      k: Int = 10): DataFrame = {
    val e = U.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val slist =
      if (shortlist > 0) shortlist
      else adaptiveShortlist(U.embeddings(s, d).count(), nprobe)
    val cents = trainCodebook(s, d, 16, 3)
    val books = trainPqCodebooks(s, d)
    val qv = e.filter(col("vec_id") === 0)
    val qcells = qv
      .crossJoin(broadcast(cents))
      .select(
        col("cell"),
        (dot(col("embedding"), col("cv")) / (col("nrm") * col("cnrm")))
          .as("csim"))
      .orderBy(col("csim").desc, col("cell"))
      .limit(nprobe)
      .select(col("cell"))
    val qemb = col("embedding").cast("array<double>")
    val lutRow = qv
      .crossJoin(broadcast(books))
      .select(
        (col("sub").cast("long") * 32 + col("cell")).as("k"),
        dot(
          slice(qemb, (col("sub") * PqSubDim + 1).cast("int"), lit(PqSubDim)),
          col("cv")).as("qdot"))
      .agg(collect_list(struct(col("k"), col("qdot"))).as("l"))
      .select(map_from_entries(array_sort(col("l"))).as("lut"))
    val q1r = qv.select(col("embedding").as("qv"), col("nrm").as("qnrm"))
    val adc = (0 until PqM)
      .map(i => element_at(col("lut"), lit(i.toLong * 32) + col(s"c$i")))
      .reduce(_ + _)
    withPqCodes(
      assignCells(e.filter(col("vec_id") =!= 0), cents)
        .join(broadcast(qcells), "cell"),
      books)
      .crossJoin(broadcast(lutRow))
      .withColumn("adc", adc)
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(slist)
      .crossJoin(broadcast(q1r))
      .select(
        col("vec_id"),
        col("cell"),
        (dot(col("embedding"), col("qv")) / (col("nrm") * col("qnrm")))
          .as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cell"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  // ---- Persistent ANN index (r18; VERDICT r17 item 1) ----
  //
  // The production serving shape: the trained IVF/PQ codebooks AND the
  // per-vector derived state (cell assignments, PQ codes, LSH buckets) are
  // parquet artifacts written once by an offline build job and READ at
  // query time — the discipline every sketch MV already follows
  // (q_agg_hll_mv/_kll_mv/_bitmap_mv/_cm_mv), applied to the artifact a
  // deployment most obviously persists. Before r18 the codebooks were
  // MatCache'd per session and every serving call re-assigned/re-encoded
  // the full corpus map-side; at sf100 that made the IVF / IVF-PQ top-k
  // walls 178 / 244 s of mostly training+encode (CORRECTNESS_sf100anntopk,
  // r17). Stored, a query touches only its probed cells.
  //
  // Layout under <root>/<dirToken(corpus)>/:
  //   codebook/  (cell BIGINT, cv ARRAY<DOUBLE>, cnrm DOUBLE)   — 16 rows
  //   pqbooks/   (sub, cell, cv, cvv)                           — 64 rows
  //   ivf/       partitionBy(cell): (vec_id, embedding, nrm)    — IVF-Flat
  //              inverted lists; a query scans nprobe of 16 cell
  //              directories (static partition pruning on literal cell
  //              ids), never the corpus
  //   pq/        partitionBy(cell): (vec_id, nrm, c0..c3)       — 2-byte
  //              ADC codes; the candidate scan reads codes, not vectors
  //   lsh/       partitionBy(bucket): (vec_id, embedding, nrm)  — 256
  //              hyperplane buckets; a query reads its bucket + 8
  //              hamming-1 probes = 9 of 256 directories
  //   _ANN_INDEX_META.properties + _ANN_INDEX_READY (marker, written last)
  //
  // Storage cost is the classic ANN trade (ivf/ and lsh/ each hold a
  // corpus copy); at 100 TB the build is one assign pass + one encode pass
  // + three partitioned writes, all map-side against broadcast codebooks.
  //
  // Root resolution: spark conf `spark.graft.ann.index.dir` (or env
  // SPARK_GRAFT_ANN_INDEX_DIR) pins a durable root shared across sessions
  // — the production deployment shape, where a stale index is an ERROR
  // (the offline build job owns rebuilds). Unpinned, the index lives in
  // session scratch (built once per JVM, reclaimed at exit) — the gates'
  // shape. Training determinism (micro-int centroid means, lexicographic
  // tie-breaks — DedupSimSpec replays both loops bit-exact) makes the
  // stored artifacts equal a retrain bit for bit, so serving from storage
  // is bit-identical to the pre-r18 in-session plans (AnnIndexSpec pins
  // this equivalence directly).

  private[graft] val AnnIndexDirConf = "spark.graft.ann.index.dir"
  private val annEnsured = scala.collection.mutable.Set.empty[String]

  private def hadoopFs(s: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def readAnnMeta(s: SparkSession, dir: String): java.util.Properties = {
    val meta = new java.util.Properties()
    val in = hadoopFs(s, dir).open(
      new org.apache.hadoop.fs.Path(dir, "_ANN_INDEX_META.properties"))
    try meta.load(in) finally in.close()
    meta
  }

  /** Build the full ANN index for corpus `d` under `dir` (overwrites). */
  def buildAnnIndex(s: SparkSession, d: String, dir: String): Unit = {
    val cents = trainCodebook(s, d, 16, 3)
    val books = trainPqCodebooks(s, d)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
    books.coalesce(1).write.mode("overwrite").parquet(s"$dir/pqbooks")
    val e = U.embeddings(s, d)
      .filter(col("vec_id") =!= 0) // vec 0 is the ANN family's query slot
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val assigned = assignCells(e, cents)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/ivf")
    withPqCodes(assigned, books)
      .select(
        (col("vec_id") +: col("nrm") +:
          (0 until PqM).map(i => col(s"c$i")) :+ col("cell")): _*)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/pq")
    e.withColumn("bucket", bucketOf(col("embedding")))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/lsh")
    val meta = new java.util.Properties()
    meta.setProperty("corpus", d)
    meta.setProperty("n_vectors", U.embeddings(s, d).count().toString)
    meta.setProperty("cells", "16")
    meta.setProperty("iters", "3")
    meta.setProperty("pq_m", PqM.toString)
    meta.setProperty("pq_k", PqK.toString)
    meta.setProperty("pq_subdim", PqSubDim.toString)
    meta.setProperty("lsh_planes", planes.size.toString)
    val fs = hadoopFs(s, dir)
    val mp = new org.apache.hadoop.fs.Path(dir, "_ANN_INDEX_META.properties")
    val out = fs.create(mp, true)
    try meta.store(out, "graft ANN index") finally out.close()
    fs.create(new org.apache.hadoop.fs.Path(dir, "_ANN_INDEX_READY"), true)
      .close()
  }

  /** The serving index directory for corpus `d`: ensures a valid index
    * exists there (building it if absent), once per JVM. On a pinned root
    * a geometry/corpus mismatch is an error naming the rebuild path — a
    * silently rebuilt "durable" index would hide that some OTHER session
    * is now serving different artifacts; in session scratch it just
    * rebuilds.
    */
  def annIndexDir(s: SparkSession, d: String): String = {
    val pinnedRoot = s.conf
      .getOption(AnnIndexDirConf)
      .orElse(Harness.config.annIndexDir)
      .filter(_.nonEmpty)
    val dir = pinnedRoot match {
      case Some(root) => s"$root/${U.dirToken(d)}"
      case None       => U.scratchDir("annindex", d)
    }
    annEnsured.synchronized {
      if (!annEnsured.contains(dir)) {
        val fs = hadoopFs(s, dir)
        val ready = new org.apache.hadoop.fs.Path(dir, "_ANN_INDEX_READY")
        val fresh: Option[String] = if (!fs.exists(ready)) Some("absent")
        else {
          val meta = new java.util.Properties()
          val in = fs.open(
            new org.apache.hadoop.fs.Path(dir, "_ANN_INDEX_META.properties"))
          try meta.load(in) finally in.close()
          val nNow = U.embeddings(s, d).count()
          if (meta.getProperty("n_vectors") != nNow.toString)
            Some(s"corpus has $nNow vectors, index built at ${meta.getProperty("n_vectors")}")
          else if (meta.getProperty("cells") != "16" ||
            meta.getProperty("pq_m") != PqM.toString ||
            meta.getProperty("pq_k") != PqK.toString ||
            meta.getProperty("pq_subdim") != PqSubDim.toString ||
            meta.getProperty("lsh_planes") != planes.size.toString)
            Some("index geometry differs from this build's constants")
          else None
        }
        fresh.foreach { why =>
          if (pinnedRoot.isDefined && fs.exists(ready))
            throw new IllegalStateException(
              s"stale ANN index at $dir ($why); rebuild it with " +
                s"SimOps.buildAnnIndex — a pinned index dir is owned by " +
                "the offline build job, not rebuilt behind its back")
          buildAnnIndex(s, d, dir)
        }
        annEnsured.add(dir)
      }
    }
    dir
  }

  /** Append newly-ingested vectors to a stored ANN index WITHOUT
    * retraining or rebuilding — the incremental ingest path a production
    * deployment runs between offline rebuilds. Codebooks are FROZEN (a
    * retrain is a deliberate offline decision, never a side effect of
    * ingest — IVF systems accept the recall drift and rebuild on a
    * schedule), the new vectors are assigned / PQ-encoded / bucketed
    * map-side against the stored codebooks, and their rows land as new
    * parquet files INSIDE the existing cell/bucket partition directories
    * (append mode) — a serving query's partition-pruned scan simply sees
    * more files, no coordination beyond the single-writer discipline the
    * build job already owns. The meta row count is refreshed from the
    * corpus LAST, so [[annIndexDir]]'s staleness validation accepts the
    * grown index exactly when the corpus itself has grown to match.
    *
    * `newVecs` must be the corpus DELTA (rows not yet indexed) — id
    * uniqueness is the ingest pipeline's contract, same as the corpus
    * table's own. AnnIndexSpec witnesses: appended postings ==
    * frozen-codebook assignment of the delta, and serving over the
    * appended index == the in-session frozen-codebook plan over the
    * grown corpus.
    */
  def appendToAnnIndex(
      s: SparkSession,
      d: String,
      dir: String,
      newVecs: DataFrame): Unit = {
    val cents = s.read.parquet(s"$dir/codebook")
    val books = s.read.parquet(s"$dir/pqbooks")
    val e = newVecs
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val assigned = assignCells(e, cents)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    assigned.write.mode("append").partitionBy("cell").parquet(s"$dir/ivf")
    withPqCodes(assigned, books)
      .select(
        (col("vec_id") +: col("nrm") +:
          (0 until PqM).map(i => col(s"c$i")) :+ col("cell")): _*)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/pq")
    e.withColumn("bucket", bucketOf(col("embedding")))
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/lsh")
    // meta refresh last: the index now matches the grown corpus
    val fs = hadoopFs(s, dir)
    val mp = new org.apache.hadoop.fs.Path(dir, "_ANN_INDEX_META.properties")
    val meta = new java.util.Properties()
    val in = fs.open(mp)
    try meta.load(in) finally in.close()
    meta.setProperty("n_vectors", U.embeddings(s, d).count().toString)
    val out = fs.create(mp, true)
    try meta.store(out, "graft ANN index (incremental append)") finally out.close()
  }

  /** The ANN query vector as a 0/1-row LOCAL relation: (embedding, nrm)
    * collected once per execution — bounded, one row, the same discipline
    * as [[probedCells]]' ≤ nprobe collect — so the stored-index serving
    * plans stop re-scanning the corpus parquet for the query row in every
    * consumer. Before r19 one ivfpq call scanned embeddings THREE times
    * (probe-cell selection, the ADC LUT build, the exact re-rank's query
    * row) plus twice more across ivf/lsh; each was a 1-row pruned scan,
    * but at serving rates that is 3 extra stages + footer reads per query.
    * The nrm is computed IN-plan before the collect (same [[norm]]
    * expression over the same scan), and the collected values re-enter
    * the plans through the schema-identical local relation, so every
    * downstream expression tree sees the same bits as the scan-based
    * form — AnnIndexSpec's stored==in-session pins stay the proof.
    */
  private def collectedQueryRow(
      s: SparkSession,
      d: String,
      queryId: Long): DataFrame = {
    val pre = U.embeddings(s, d)
      .filter(col("vec_id") === queryId)
      .select(col("embedding"), norm(col("embedding")).as("nrm"))
    import scala.jdk.CollectionConverters._
    s.createDataFrame(pre.collect().toList.asJava, pre.schema)
  }

  /** The query's `nprobe` nearest coarse cells, as literal ids for static
    * partition pruning on the postings scan — a bounded (≤ nprobe of 16)
    * driver-side collect, same discipline as the streaming touched-date
    * lists. Selection order identical to the in-session plans (csim desc,
    * cell asc tie-break).
    */
  private def probedCells(
      qv: DataFrame,
      cents: DataFrame,
      nprobe: Int): Array[Long] =
    qv.crossJoin(broadcast(cents))
      .select(
        col("cell"),
        (dot(col("embedding"), col("cv")) / (col("nrm") * col("cnrm")))
          .as("csim"))
      .orderBy(col("csim").desc, col("cell"))
      .limit(nprobe)
      .select(col("cell").cast("long"))
      .collect()
      .map(_.getLong(0))

  private def cellIn(cells: Array[Long]): Column =
    col("cell").isin(cells.map(Long.box).toIndexedSeq: _*)

  /** IVF top-k served from the stored index: nprobe cell directories are
    * partition-pruned at the scan; the exact-cosine re-rank runs over
    * those inverted lists only. Bit-identical output to
    * [[ivfTopK]](codebookIters = 3) — AnnIndexSpec pins it.
    */
  private[graft] def ivfTopKStored(
      s: SparkSession,
      d: String,
      nprobe: Int = 2,
      k: Int = 10,
      queryId: Long = 0L): DataFrame = {
    val dir = annIndexDir(s, d)
    val cents = s.read.parquet(s"$dir/codebook")
    val qv = collectedQueryRow(s, d, queryId)
    val cells = probedCells(qv, cents, nprobe)
    val q = qv.select(col("embedding").as("qv"), col("nrm").as("qnrm"))
    s.read.parquet(s"$dir/ivf")
      .filter(cellIn(cells) && col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        col("cell").cast("long").as("cell"),
        (dot(col("embedding"), col("qv")) / (col("nrm") * col("qnrm")))
          .as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cell"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** IVF-PQ top-k served from the stored index: the candidate scan reads
    * 2-byte codes from the pruned cell directories (never a raw vector —
    * the ADC trick at its storage-level payoff), and only the ≤ shortlist
    * survivors fetch their vectors from the SAME pruned cells of the
    * ivf/ lists for the exact re-rank. Bit-identical to [[ivfpqTopK]].
    */
  private[graft] def ivfpqTopKStored(
      s: SparkSession,
      d: String,
      nprobe: Int = 4,
      shortlist: Int = 0,
      k: Int = 10,
      queryId: Long = 0L): DataFrame = {
    val dir = annIndexDir(s, d)
    val slist =
      if (shortlist > 0) shortlist
      // n_vectors from the index meta: adaptive sizing with NO extra job
      else adaptiveShortlist(readAnnMeta(s, dir)
        .getProperty("n_vectors").toLong, nprobe)
    val cents = s.read.parquet(s"$dir/codebook")
    val books = s.read.parquet(s"$dir/pqbooks")
    val qv = collectedQueryRow(s, d, queryId)
    val cells = probedCells(qv, cents, nprobe)
    val qemb = col("embedding").cast("array<double>")
    val lutRow = qv
      .crossJoin(broadcast(books))
      .select(
        (col("sub").cast("long") * 32 + col("cell")).as("k"),
        dot(
          slice(qemb, (col("sub") * PqSubDim + 1).cast("int"), lit(PqSubDim)),
          col("cv")).as("qdot"))
      .agg(collect_list(struct(col("k"), col("qdot"))).as("l"))
      .select(map_from_entries(array_sort(col("l"))).as("lut"))
    val q1r = qv.select(col("embedding").as("qv"), col("nrm").as("qnrm"))
    val adc = (0 until PqM)
      .map(i => element_at(col("lut"), lit(i.toLong * 32) + col(s"c$i")))
      .reduce(_ + _)
    val short = s.read.parquet(s"$dir/pq")
      .filter(cellIn(cells) && col("vec_id") =!= queryId)
      .crossJoin(broadcast(lutRow))
      .withColumn("adc", adc)
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(slist)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    s.read.parquet(s"$dir/ivf")
      .filter(cellIn(cells))
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .join(broadcast(short), "vec_id")
      .crossJoin(broadcast(q1r))
      .select(
        col("vec_id"),
        col("cell"),
        (dot(col("embedding"), col("qv")) / (col("nrm") * col("qnrm")))
          .as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cell"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** Hyperplane-LSH top-k served from the stored index: the query's bucket
    * plus its 8 hamming-1 probes are 9 literal partition values — 9 of 256
    * bucket directories scanned, vs the pre-r18 full-corpus bucket
    * recompute. Bit-identical to [[lshTopKInSession]].
    */
  private[graft] def lshTopKStored(
      s: SparkSession,
      d: String,
      k: Int = 10,
      queryId: Long = 0L): DataFrame = {
    val dir = annIndexDir(s, d)
    val qrow = collectedQueryRow(s, d, queryId)
      .select(
        col("embedding").as("qv"),
        bucketOf(col("embedding")).as("q_bucket"),
        col("nrm").as("q_nrm"))
    // 1-row bounded collect: the query's bucket, expanded to the 9-value
    // multiprobe set driver-side so the scan prunes on literals
    val qb = qrow.select(col("q_bucket").cast("int")).collect() match {
      case Array(r) => r.getInt(0)
      case _        => return s.emptyDataFrame
        .select(lit(0L).as("vec_id"), lit(0L).as("bucket"),
          lit(0.0).as("cos_sim")).limit(0)
    }
    val probes = (qb +: planes.indices.map(i => qb ^ (1 << i))).map(Int.box)
    s.read.parquet(s"$dir/lsh")
      .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= queryId)
      .crossJoin(broadcast(qrow))
      .select(
        col("vec_id"),
        col("bucket").cast("long").as("bucket"),
        (dot(col("embedding"), col("qv")) / (norm(col("embedding")) * col("q_nrm")))
          .as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("bucket"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** The pre-r18 in-session LSH plan (bucket recompute over the full
    * corpus, hamming filter) — kept as the spec's equivalence twin for
    * [[lshTopKStored]], exactly as [[ivfTopK]]/[[ivfpqTopK]] remain the
    * twins for their stored forms.
    */
  private[graft] def lshTopKInSession(s: SparkSession, d: String): DataFrame = {
    val e = U.embeddings(s, d)
    val bucketed = e.select(
      col("vec_id"),
      col("embedding"),
      bucketOf(col("embedding")).as("bucket"))
    val q = bucketed
      .filter(col("vec_id") === 0)
      .select(
        col("embedding").as("qv"),
        col("bucket").as("q_bucket"),
        norm(col("embedding")).as("q_nrm"))
    bucketed
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .filter(bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= 1)
      .select(
        col("vec_id"),
        col("bucket").cast("long").as("bucket"),
        (dot(col("embedding"), col("qv")) / (norm(col("embedding")) * col("q_nrm")))
          .as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("bucket"), round(col("cos_raw"), 4).as("cos_sim"))
  }
}
