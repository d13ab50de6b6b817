package graft.ops

import graft.{Q, U}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for an LLM training-data pipeline (north
  * star, `BASELINE.json:6`): deterministic train/valid/test splitting,
  * context-window sequence packing, weighted domain mixing, benchmark
  * contamination detection, and near-dup cluster resolution.
  *
  * Scale design (100 TB):
  *   - the split is a pure per-row scan keyed on a content hash — stable
  *     under re-ingest/re-partitioning, no shuffle at all;
  *   - packing is one window pass per (lang) shard: cumulative token offsets
  *     never materialize pack contents, only assignments;
  *   - mixing replicates rows with `explode(sequence(...))` — map-side only,
  *     output size = Σ weights, no shuffle;
  *   - contamination joins corpus shingles against a BROADCAST eval-set
  *     shingle dictionary (the eval set is benchmarks — thousands of docs,
  *     not billions), so the corpus never shuffles;
  *   - cluster resolution is iterative min-label propagation over the
  *     near-dup pair graph with per-iteration `localCheckpoint` to truncate
  *     lineage; near-dup components are dense little cliques (diameter ~2-3
  *     at any corpus size — docs at Jaccard >= 0.8 of a common neighbor are
  *     near each other too), so the loop converges in a handful of rounds.
  *     Its precondition: every node fewer than 20 hops from its
  *     component's minimum doc id; a deeper component fails loudly, naming
  *     the bound ([[connectedComponents]]).
  */
object PipelineOps {

  private def words: Column = U.words
  private def shingled(s: SparkSession, d: String): DataFrame = U.shingled(s, d)

  /** Context-window size for sequence packing (tokens). */
  private val PackWindow = 2048

  val qs: Seq[Q] = Seq(
    // Deterministic content-hash train/valid/test split (90/5/5): the split
    // key is the first 16 bits of md5(text), so assignment is a pure
    // function of document CONTENT — reproducible across runs, engines, and
    // re-partitionings, and a re-ingested duplicate always lands in the
    // same split (no eval leakage from shuffling row order). Zero shuffle.
    Q(
      "q_split_assign",
      """WITH h AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 4))::BIGINT AS h16 FROM documents)
        |SELECT doc_id, h16,
        |  CASE WHEN h16 % 100 < 90 THEN 'train'
        |       WHEN h16 % 100 < 95 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      val h16 = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long")
      U.documents(s, d)
        .select(col("doc_id"), h16.as("h16"))
        .withColumn(
          "split",
          when(col("h16") % 100 < 90, "train")
            .when(col("h16") % 100 < 95, "valid")
            .otherwise("test"))
        .orderBy("doc_id")
    },

    // Sequence packing: assign each document a pack (context window) id by
    // its running token offset within a (lang) shard — the deterministic
    // offset-based packing a distributed trainer uses to slice a shuffled-
    // once corpus into fixed windows. One window shuffle per shard key;
    // only (doc, offset) assignments materialize, never packed text.
    Q(
      "q_pack_sequences",
      s"""WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, lang, n_tok, cum - n_tok AS tok_offset,
        |  CAST(floor((cum - n_tok) / $PackWindow.0) AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = Window
        .partitionBy(col("lang"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      U.documents(s, d)
        .select(col("doc_id"), col("lang"), size(words).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(
          col("doc_id"),
          col("lang"),
          col("n_tok"),
          (col("cum") - col("n_tok")).as("tok_offset"),
          floor((col("cum") - col("n_tok")) / lit(PackWindow.toDouble))
            .cast("long")
            .as("pack_id"))
        .orderBy("doc_id")
    },

    // Weighted domain mixing by upsampling: each source gets a small integer
    // repeat factor (here a deterministic function of the source id; in
    // production a dimension table) and every doc is replicated weight
    // times with a copy index. explode(sequence) is map-side only: no
    // shuffle, output rows = sum of weights — the standard way to hit a
    // target domain mixture without a sampling pass.
    Q(
      "q_mix_upsample",
      """WITH w AS (SELECT doc_id, source,
        |    CAST(substr(source, 4)::INT % 4 + 1 AS BIGINT) AS weight
        |  FROM documents)
        |SELECT doc_id, source, weight,
        |  CAST(unnest(generate_series(1, weight)) AS BIGINT) AS copy_idx
        |FROM w ORDER BY doc_id, copy_idx""".stripMargin) { (s, d) =>
      U.documents(s, d)
        .select(
          col("doc_id"),
          col("source"),
          (substring(col("source"), 4, 10).cast("int") % 4 + 1)
            .cast("long")
            .as("weight"))
        .select(
          col("doc_id"),
          col("source"),
          col("weight"),
          explode(sequence(lit(1L), col("weight"))).as("copy_idx"))
        .orderBy("doc_id", "copy_idx")
    },

    // Benchmark-contamination check: corpus docs sharing >= 1 3-gram shingle
    // with the eval set (stand-in: doc_id < 10). The eval shingle dictionary
    // is BROADCAST — benchmarks are small by construction — so the 100 TB
    // corpus is a single map-side semi-join + one aggregation keyed by
    // doc_id; the corpus text itself never shuffles.
    Q(
      "q_text_contamination",
      """WITH wd AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |       FROM wd WHERE len(w) >= 3),
        |ev AS (SELECT DISTINCT sh, eval_id FROM
        |         (SELECT unnest(shingles) AS sh, doc_id AS eval_id FROM sh WHERE doc_id < 10)),
        |cx AS (SELECT doc_id, unnest(shingles) AS sh FROM sh WHERE doc_id >= 10)
        |SELECT cx.doc_id, count(DISTINCT cx.sh) AS n_shared,
        |  count(DISTINCT ev.eval_id) AS n_eval_docs
        |FROM cx JOIN ev ON cx.sh = ev.sh
        |GROUP BY cx.doc_id ORDER BY cx.doc_id""".stripMargin) { (s, d) =>
      val sh = shingled(s, d)
      val ev = sh
        .filter(col("doc_id") < 10)
        .select(col("doc_id").as("eval_id"), explode(col("shingles")).as("sh"))
        .distinct()
      val cx = sh
        .filter(col("doc_id") >= 10)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
      cx.join(broadcast(ev), "sh")
        .groupBy(col("doc_id"))
        .agg(
          countDistinct(col("sh")).as("n_shared"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
        .orderBy("doc_id")
    },

    // End-to-end training-manifest pipeline: exact-dedup (keep canonical) →
    // min-length filter → content-hash split → per-split sequence packing.
    // The macro composition a training-data job actually runs; every stage
    // reuses the scale design of its standalone operator (digest-keyed
    // dedup shuffle, zero-shuffle split, one window pass per split).
    Q(
      "q_pipeline_train_manifest",
      s"""WITH t AS (SELECT doc_id, lang, text,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |d AS (SELECT min(doc_id) AS doc_id FROM t GROUP BY md5(text)),
        |k AS (SELECT t.doc_id, t.lang, t.text, t.n_tok
        |      FROM t JOIN d ON t.doc_id = d.doc_id WHERE t.n_tok >= 3),
        |s AS (SELECT doc_id, lang, n_tok,
        |    ('0x' || substr(md5(text), 1, 4))::BIGINT % 100 AS h
        |  FROM k),
        |sp AS (SELECT doc_id, lang, n_tok,
        |    CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'valid' ELSE 'test' END AS split
        |  FROM s),
        |c AS (SELECT doc_id, lang, n_tok, split,
        |    CAST(sum(n_tok) OVER (PARTITION BY split ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM sp)
        |SELECT doc_id, lang, split, n_tok, cum - n_tok AS tok_offset,
        |  CAST(floor((cum - n_tok) / $PackWindow.0) AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = U.documents(s, d)
        .select(
          col("doc_id"),
          col("lang"),
          col("text"),
          size(words).cast("long").as("n_tok"))
      val canonical = base
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val kept = base
        .join(canonical, Seq("doc_id"), "left_semi")
        .filter(col("n_tok") >= 3)
      val split = kept
        .withColumn(
          "h",
          conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long") % 100)
        .withColumn(
          "split",
          when(col("h") < 90, "train")
            .when(col("h") < 95, "valid")
            .otherwise("test"))
      val w = Window
        .partitionBy(col("split"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      split
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(
          col("doc_id"),
          col("lang"),
          col("split"),
          col("n_tok"),
          (col("cum") - col("n_tok")).as("tok_offset"),
          floor((col("cum") - col("n_tok")) / lit(PackWindow.toDouble))
            .cast("long")
            .as("pack_id"))
        .orderBy("doc_id")
    },

    // Dataset card: the per-(source, lang) corpus summary a training run
    // publishes alongside the data (datasheets/data-statements practice) —
    // volume (docs/tokens/chars), exact-duplicate count, and the group's
    // share of the corpus in parts-per-million. ONE scan, one two-phase
    // aggregate; the only extra exchange is countDistinct's expand, and
    // the corpus-total share rides a 1-row broadcast. All integer outputs
    // (ppm via integer division) — no float crosses engines.
    Q(
      "q_pipeline_dataset_card",
      """WITH g AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dupes
        |  FROM documents GROUP BY source, lang),
        |t AS (SELECT sum(n_docs) AS total_docs FROM g)
        |SELECT source, lang, n_docs, n_tokens, sum_chars, n_exact_dupes,
        |  CAST((n_docs * 1000000) // total_docs AS BIGINT) AS share_ppm
        |FROM g, t ORDER BY source, lang""".stripMargin) { (s, d) =>
      // checkpoint the ~(sources x langs)-row aggregate: consumed twice
      // (probe rows + corpus total) — without it the corpus scan with the
      // countDistinct expand runs once per consumer
      val g = U.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(U.words).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          (count(lit(1)) - countDistinct(md5(col("text"))))
            .as("n_exact_dupes"))
        .transform(U.ckpt(_, "q_pipeline_dataset_card_groups"))
      val total = g.agg(sum(col("n_docs")).as("total_docs"))
      g.crossJoin(broadcast(total))
        .select(
          col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("sum_chars"), col("n_exact_dupes"),
          // integral DIV, not `/`: long / long is a double divide in Spark
          // and the cast-back truncation can sit 1 ulp off the exact floor
          expr("(n_docs * 1000000) div total_docs").cast("long")
            .as("share_ppm"))
        .orderBy("source", "lang")
    },

    // Near-dup cluster resolution: connected components over the exact
    // n-gram-Jaccard pair graph, as min-label propagation to fixpoint.
    // Each iteration is one join + one aggregate (all shuffles on the node
    // key); `localCheckpoint` truncates the growing lineage so iteration N
    // doesn't recompute 1..N-1. Convergence is monitored by sum(label) —
    // labels only ever decrease, so an unchanged sum IS the fixpoint.
    // Oracle'd since r11: the iteration count is graph-dependent but the
    // FIXPOINT is not — min-label-reachable equals min over the recursive
    // transitive closure, which DuckDB expresses as a WITH RECURSIVE
    // UNION (fixpoint) CTE with the aggregate safely OUTSIDE the
    // recursion. The dedup graph's components are tiny (a few hundred
    // nodes), so the closure's O(component²) rows are nothing next to the
    // pair pipeline that feeds it. ScalaTest still cross-checks against a
    // driver-side union-find on the same pairs. Precondition: every doc is
    // fewer than 20 hops from its cluster's minimum doc id (the propagation
    // bound, see connectedComponents); a deeper cluster fails the key
    // loudly instead of returning partial labels.
    Q(
      "q_dedup_clusters",
      s"""${DedupOps.NgramJacSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |edges AS (SELECT a AS src, b AS dst FROM jac UNION ALL SELECT b, a FROM jac),
        |reach(src, node) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.node = ed.src
        |)
        |SELECT src AS doc_id, min(node) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin) { (s, d) =>
      val pairs = DedupOps.pairGraphEdges(s, d).select(col("a"), col("b"))
      connectedComponents(pairs)
        .toDF("doc_id", "cluster_id")
        .orderBy("doc_id")
    },

    // Stratified downsampling by content hash: per-language keep rates
    // (en 50%, else 20% — corpus rebalancing toward the low-resource tail)
    // decided by the SAME h16 content hash as q_split_assign, so the sample
    // is a pure zero-shuffle scan, reproducible across runs/engines, and a
    // re-ingested duplicate is kept or dropped consistently. The
    // random()-based alternative is non-reproducible AND engine-divergent —
    // content hashing is the only sampling a 100 TB pipeline can re-run.
    Q(
      "q_sample_stratified",
      """WITH h AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(text), 1, 4))::BIGINT % 10 AS h10
        |  FROM documents)
        |SELECT doc_id, lang FROM h
        |WHERE h10 < (CASE WHEN lang = 'en' THEN 5 ELSE 2 END)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val h10 =
        conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long") % 10
      U.documents(s, d)
        .select(col("doc_id"), col("lang"), h10.as("h10"))
        .filter(col("h10") < when(col("lang") === "en", 5).otherwise(2))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // Per-source quota sampling: cap every source at 10 docs, choosing the
    // keepers by CONTENT-HASH rank (md5 order, doc_id tie-break) — the
    // dual of q_mix_upsample (that op raises underrepresented domains,
    // this one caps overrepresented ones, the standard "no single crawl
    // dominates" curation guard). Content-hash ranking, not random(): the
    // kept set is reproducible across runs/engines, and a re-ingested
    // duplicate is kept or dropped consistently. Scale: one window shuffle
    // by source (partial top-k per partition would need a custom agg;
    // rank-within-group is the declarative form), emitting only doc_id —
    // text never leaves its scan.
    Q(
      "q_sample_quota",
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 10
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      U.documents(s, d)
        // digest BEFORE the window: the sort key must be computed pre-
        // exchange so the window shuffle carries (doc_id, source, 32-char
        // digest), never document bodies
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        .select(
          col("doc_id"),
          col("source"),
          row_number().over(w).cast("long").as("rk"))
        .filter(col("rk") <= 10)
        .orderBy("doc_id")
    },

    // Eval-set decontamination, exact-match tier: drop every training doc
    // whose NORMALIZED text (q_dedup_normalized's C4/CCNet convention)
    // byte-matches an eval doc (stand-in: doc_id < 10, as in
    // q_text_contamination, which is this operator's n-gram-overlap tier).
    // The corpus side carries only (doc_id, 16-byte digest) into a LEFT
    // ANTI join against the BROADCAST eval digest set — benchmarks are
    // thousands of digests — so the 100 TB corpus never shuffles and the
    // text never leaves its scan.
    Q(
      "q_dedup_decontaminate",
      """WITH n AS (SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |        ' +', ' ', 'g'))) AS norm_md5
        |  FROM documents)
        |SELECT t.doc_id FROM n t
        |WHERE t.doc_id >= 10 AND NOT EXISTS (
        |  SELECT 1 FROM n e WHERE e.doc_id < 10 AND e.norm_md5 = t.norm_md5)
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      // one-pass codegen normalize, byte-identical to the oracle's regex
      // chain (see [[graft.functions.NormalizeText]])
      val norm = graft.functions.NormalizeText.normalizeText(col("text"))
      val digests = U.documents(s, d)
        .select(col("doc_id"), md5(norm).as("norm_md5"))
      val eval = digests
        .filter(col("doc_id") < 10)
        .select(col("norm_md5").as("eval_md5"))
      digests
        .filter(col("doc_id") >= 10)
        .join(broadcast(eval), col("norm_md5") === col("eval_md5"), "left_anti")
        .select(col("doc_id"))
        .orderBy("doc_id")
    },

    // RAG corpus prep macro: chunk every document into 64-token/48-stride
    // windows (THE q_text_chunk kernel — U.chunked / U.chunkCte, one
    // definition per engine), dedup the CHUNKS by content digest
    // (boilerplate headers/footers repeat across documents and would
    // dominate a vector index), report per-doc totals. Digest-shuffle
    // discipline as q_dedup_exact: the chunk TEXT never leaves its scan —
    // only (doc_id, chunk_id, 16-byte digest, n_tokens) enters the
    // dedup window's exchange (PlanSpec-asserted). First-occurrence-wins
    // keeps ranking deterministic across engines.
    Q(
      "q_pipeline_rag_prep",
      s"""WITH ${U.chunkCte},
         |r AS (
         |  SELECT doc_id, n_tokens,
         |    row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, chunk_id) AS rn
         |  FROM ch)
         |SELECT doc_id, count(*) AS n_chunks,
         |  count(*) FILTER (WHERE rn = 1) AS n_kept,
         |  CAST(sum(n_tokens) FILTER (WHERE rn = 1) AS BIGINT) AS kept_tokens
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ch = U.chunked(s, d)
        .select(
          col("doc_id"),
          col("chunk_id"),
          md5(col("chunk")).as("digest"),
          col("n_tokens"))
      ch.withColumn(
          "rn",
          row_number().over(
            Window.partitionBy(col("digest"))
              .orderBy(col("doc_id"), col("chunk_id"))))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_chunks"),
          count(when(col("rn") === 1, 1)).as("n_kept"),
          sum(when(col("rn") === 1, col("n_tokens"))).as("kept_tokens"))
        .orderBy("doc_id")
    },

    // Temperature-based mixing weights at α = 0.5 (the multilingual /
    // multi-domain sampling standard — weight ∝ n^α flattens the domain
    // distribution so big domains stop drowning small ones; α = 0.5 is
    // the sqrt point many multilingual recipes use, and CRUCIALLY sqrt is
    // a correctly-rounded IEEE op on BOTH engines, where a general pow's
    // exp/ln detour is not): per (source, lang) domain, weight_micro =
    // floor(sqrt(n_docs)·10^6 + 0.5), share_ppm = weight·10^6 div Σweight
    // — everything after the one sqrt is exact integer arithmetic. Scale:
    // one partial-agg exchange on the domain key (bounded by domain
    // cardinality); the weight total is a 1-row broadcast.
    Q(
      "q_mix_temperature",
      """WITH c AS (
        |  SELECT source, lang, count(*) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |w AS (
        |  SELECT source, lang, n_docs,
        |    CAST(floor(sqrt(n_docs) * 1000000 + 0.5) AS BIGINT) AS weight_micro
        |  FROM c),
        |tot AS (SELECT sum(weight_micro) AS tw FROM w)
        |SELECT source, lang, n_docs, weight_micro,
        |  CAST(weight_micro * 1000000 // tw AS BIGINT) AS share_ppm
        |FROM w, tot ORDER BY source, lang""".stripMargin) { (s, d) =>
      // same twice-consumed-aggregate discipline as q_pipeline_dataset_card
      val w = U.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn(
          "weight_micro",
          floor(sqrt(col("n_docs")) * 1000000 + 0.5).cast("long"))
        .transform(U.ckpt(_, "q_mix_temperature_weights"))
      w.crossJoin(broadcast(w.agg(sum(col("weight_micro")).as("tw"))))
        .select(
          col("source"),
          col("lang"),
          col("n_docs"),
          col("weight_micro"),
          expr("weight_micro * 1000000 div tw").as("share_ppm"))
        .orderBy("source", "lang")
    }
  )

  /** The most propagation rounds [[connectedComponents]] runs before it
    * fails: labels settle after as many rounds as the deepest hop count,
    * and one more round must see no change. */
  private val CcMaxIters = 20

  /** Connected components by min-label propagation: input is an undirected
    * edge list (a, b); output one row per node with its component's minimum
    * node id as the label. `localCheckpoint` truncates lineage each
    * iteration (the superseded iteration's blocks are unpersisted as soon
    * as the next checkpoint materializes, so storage stays O(1) iterations,
    * not O(all)); convergence is detected by the label sum (labels only
    * ever decrease). Empty edge list => empty result (sum() over an empty
    * frame is null — guarded, not NPE'd).
    *
    * Precondition: every node lies fewer than [[CcMaxIters]] = 20 hops
    * from its component's minimum id. Propagation moves the min label ONE
    * hop per iteration, so the iteration count is the max eccentricity of
    * a component's min-id node, plus the one round that finds no change;
    * near-dup components are near-cliques (diameter 2-3), far inside the
    * bound. A deeper component THROWS rather than returning partial
    * labels — a wrong cluster assignment must never look like a result.
    * (An alternating-star kernel, which converges in O(log n) rounds on
    * any graph, took about twice as long on the sf0.01 and sf0.1 pair
    * graphs: SCALING.md §"Connected components priced".)
    *
    * `localCheckpoint` blocks live on the executors: an executor lost
    * mid-loop fails the query, since the truncated lineage cannot be
    * recomputed.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // checkpoint the INPUT first: the union below references it twice, and
    // an expensive producing pipeline (e.g. the near-dup pair join) would
    // otherwise run once per reference
    val p = U.ckpt(pairs.toDF("a", "b"), "cc_pairs")
    val edges = p.union(p.select(col("b"), col("a")))
      .toDF("u", "v")
      .transform(U.ckpt(_, "cc_edges"))
    var labels = edges
      .select(col("u").as("node"))
      .distinct()
      .withColumn("label", col("node"))
      .transform(U.ckpt(_, "cc_labels_seed"))
    def labelSum(): Long = {
      val r = labels.agg(sum(col("label"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = labelSum()
    var converged = labels.isEmpty
    var iter = 0
    while (!converged && iter < CcMaxIters) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u").as("node2"))
        .agg(min(col("label")).as("nlab"))
      val prev = labels
      labels = prev // eager: materializes before prev is dropped
        .join(nbrMin, col("node") === col("node2"), "left")
        .select(
          col("node"),
          least(col("label"), coalesce(col("nlab"), col("label"))).as("label"))
        .transform(U.ckpt(_, "cc_labels_iter"))
      unpersistCheckpoint(prev)
      val sumNow = labelSum()
      converged = sumNow == prevSum
      prevSum = sumNow
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $CcMaxIters iterations: a " +
          s"component has a node $CcMaxIters hops or more from its minimum " +
          "id, past the documented bound of q_dedup_clusters' pair graph")
    unpersistCheckpoint(edges)
    unpersistCheckpoint(p)
    labels.select(col("node"), col("label"))
  }

  /** Free a localCheckpoint'd DataFrame's storage blocks eagerly. The
    * persisted RDD is the one captured inside the checkpoint's LogicalRDD
    * node — `queryExecution.toRdd` would return a fresh projection wrapper
    * whose unpersist is a no-op. Falls through silently if the plan isn't a
    * checkpoint (then the ContextCleaner reclaims blocks on GC anyway).
    */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
