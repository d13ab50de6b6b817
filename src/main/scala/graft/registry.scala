package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampType}

/** One declared engine operator (SURVEY.md §2.4): a Spark query plus, where
  * SQL-expressible, the equivalent ANSI SQL the driver runs in DuckDB over
  * the same parquet tables.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Measured AQE-seed override for the spill regime (r17; VERDICT r16
      * item 1): when AutoParts runs in auto mode AND its formula is above
      * the cpu floor (i.e. the plan's size estimates put the query in the
      * big-SF spill regime), this seed replaces the formula's. Exists for
      * the plan shapes whose buffered volume no static estimate can see —
      * q_merge_upsert's global sort buffers the full-outer join OUTPUT
      * (~260 M rows at sf100), which depends on the delta side's group
      * count; the measured optimum there is non-monotonic (384→82.6 s,
      * 512→45.2 s, 1024→139.9 s, BENCH_autoparts_AB.json), so any
      * weight-based correction overshoots into the bad cap. At driver-gate
      * scales the formula floors at cpus and the hint is inert, so the
      * r1-r16 gate behavior is unchanged (pinned in PlanSpec).
      */
    seedHint: Option[Int] = None) {
  def withSeedHint(n: Int): Q = copy(seedHint = Some(n))
}

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q = Q(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)
}

/** Cross-engine determinism helpers.
  *
  * The driver hash-compares our parquet output against DuckDB, so every
  * output column must be bit-identical across engines:
  *   - double SUM/AVG go through DECIMAL(18,6) (exact, order-independent)
  *     and back to double — IEEE summation order differs between engines;
  *   - timestamps are emitted as epoch microseconds (BIGINT) — parquet
  *     tz-annotation round-trips differently between Spark and DuckDB;
  *   - every query ends in a deterministic ORDER BY over a unique key.
  */
object U {
  val Dec: DecimalType = DecimalType(18, 6)

  /** KLL `k` of every stored quantile sketch (`q_agg_kll_mv`, the
    * streaming sketch MV) and of the merges and checks that read them: a
    * partial of at most k values stays uncompacted, so merged == direct. */
  val KllK = 16384

  /** `localCheckpoint()` with an inspectable derivation (r19; VERDICT r18
    * item 8): a checkpoint cuts lineage, so a committed `.explain` dump of
    * a checkpointed query shows the segment ABOVE the checkpoint only —
    * r18's q_dedup_substring exchange-key change was invisible in its own
    * before/after plan dumps. When `SPARK_GRAFT_DUMP_PRECKPT` names a
    * directory, the formatted plan of the segment FEEDING the checkpoint
    * is written there as `<label>.txt` before the lineage is cut (loops
    * overwrite; the per-iteration plans differ only in expr ids). Dormant
    * (one config probe) in every normal run. Every checkpoint of the
    * operator modules (`ops/<Name>Ops.scala`) goes through here, so the dump
    * sees every cut (RegistrySpec scans for a bare one).
    */
  def ckpt(df: org.apache.spark.sql.DataFrame, label: String)
      : org.apache.spark.sql.DataFrame = {
    Harness.config.dumpPreckpt.foreach { dir =>
      try {
        val p = java.nio.file.Paths.get(dir, s"$label.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Exception =>
          System.err.println(s"[ckpt] pre-checkpoint dump $label failed: $e")
      }
    }
    df.localCheckpoint()
  }

  /** The wide side of exact decimal products. The width pair encodes BOTH
    * engines' constraints at once: one operand's width must exceed 18 or
    * DuckDB multiplies INT64 representations and overflows at runtime
    * (width > 18 forces its HUGEINT path), while Spark needs
    * p1 + p2 + 1 <= 38 or its precision-loss adjustment silently rounds
    * the product's low digits. (20,6) x (18,6)-or-narrower satisfies both.
    */
  val Dec20: DecimalType = DecimalType(20, 6)

  /** Order-independent exact sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Exact sum emitted as micro-unit BIGINT. `round(CAST(sum AS DOUBLE), 2)`
    * carries a latent half-boundary divergence — when the sum renders as
    * .xx5, Spark HALF_UPs the shortest decimal rendering while DuckDB rounds
    * the binary value (observed on q_tpch_q9 at sf0.001) — whereas the
    * scale-6 decimal sum times 1e6 is exactly integral, so the BIGINT cast
    * has no rounding boundary at all (the cast round-vs-truncate divergence
    * is moot on integral values). SQL mirror:
    * `CAST(sum(CAST(x AS DECIMAL(18,6))) * 1000000 AS BIGINT)`.
    */
  def dsumMicro(c: Column): Column = (sum(c.cast(Dec)) * 1000000).cast("long")

  /** Deterministic mean: exact decimal sum divided by count, as double. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** Exact decimal mean emitted as micro-unit BIGINT — no double and no
    * rounding op anywhere, so no cross-engine boundary EXISTS: the scale-6
    * decimal sum ×1e6 is exactly integral (so DuckDB's round-on-cast and
    * Spark's trunc-on-cast agree), and integral division agrees between
    * Spark `div` and DuckDB `//` at EVERY sign — both truncate toward
    * zero (checked: -7//2 = -3 in DuckDB, not floor's -4). Replaces the
    * `round(davg(x), 4)` emission whose HALF_UP-on-rendering vs
    * round-binary divergence bit q_ts_seasonal at sf0.1 once already.
    * SQL mirror:
    * `CAST(sum(CAST(x AS DECIMAL(18,6))) * 1000000 AS BIGINT) // count(*)`.
    */
  def davgMicro(colName: String): Column =
    expr(s"CAST(sum(CAST($colName AS DECIMAL(18,6))) * 1000000 AS BIGINT) div count(1)")

  /** Scratch directory for the MV / ingest-roundtrip keys. Keyed by the
    * FULL input dir via md5 (not String.hashCode — distinct dataset paths
    * can collide in 32 bits) AND a per-JVM token, so two concurrent JVMs
    * on the same dataset (tools/run_class.sh deliberately bypasses the sbt
    * lock) can never overwrite each other's scratch mid-read. Per-JVM, not
    * per-call: re-runs inside one session still overwrite in place instead
    * of leaking a copy per invocation; a shutdown hook reclaims the one
    * copy each JVM leaves.
    */
  /** Stable 8-byte token for a dataset path — the corpus-keyed subdirectory
    * name persistent artifact stores (ANN index) use under a user-pinned
    * root, and the hash [[scratchDir]] keys session scratch by.
    */
  def dirToken(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  def scratchDir(prefix: String, d: String): String = {
    val dirHash = dirToken(d)
    val f = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_${prefix}_${dirHash}_$jvmToken")
    scratchRoots.synchronized {
      if (scratchRoots.add(f.getAbsolutePath) && !shutdownHookAdded) {
        shutdownHookAdded = true
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          scratchRoots.foreach(p => deleteRecursively(new java.io.File(p)))))
      }
    }
    f.toString
  }
  private lazy val jvmToken: String =
    java.util.UUID.randomUUID().toString.take(8)
  private val scratchRoots = scala.collection.mutable.Set.empty[String]
  private var shutdownHookAdded = false
  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Table `name` of the corpus at `dir`, read by [[graft.sources.Tables.read]]
    * (which owns the timestamp-encoding settings). */
  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.read(s, s"$dir/$name.parquet")

  /** `events` with `ts` normalized to TimestampType (UTC micros) regardless
    * of the file's physical encoding: int64 TIMESTAMP(NANOS) is floored to
    * micros (what DuckDB does too); native timestamp columns pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = tbl(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _: TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet dtype $other (expected int64 nanos or timestamp)")
    }
  }

  /** `events` with `ts` kept in its physical encoding. When the file stores
    * int64 nanos, range predicates on the *converted* column can't reach the
    * parquet scan (the source can't translate
    * `timestamp_micros(ts DIV 1000) >= X`), so scan-adjacent filters must be
    * phrased against the raw column via [[tsRangeUs]]/[[tsUsCol]] — at
    * 100 TB that is the difference between a row-group stats-skip and a
    * full scan. When the file stores native timestamps, plain timestamp
    * predicates push down as-is (parquet min/max stats are timestamps too).
    */
  def eventsRaw(s: SparkSession, d: String): DataFrame = tbl(s, d, "events")

  /** Inclusive `[startUs, endUs]` range over [[eventsRaw]]'s `ts`, phrased
    * for pushdown in whichever encoding the file has. Nanos branch: exact
    * raw-int64 bounds (floor(ts/1000) >= a iff ts >= a*1000; <= b iff
    * ts <= b*1000 + 999). Timestamp branch: literal timestamp bounds.
    */
  def tsRangeUs(raw: DataFrame, startUs: Long, endUs: Long): Column =
    raw.schema("ts").dataType match {
      case LongType =>
        col("ts") >= startUs * 1000L && col("ts") <= endUs * 1000L + 999L
      case _ =>
        col("ts") >= timestamp_micros(lit(startUs)) &&
          col("ts") <= timestamp_micros(lit(endUs))
    }

  /** [[eventsRaw]]'s `ts` as epoch micros (BIGINT) in either encoding.
    * Nanos branch MUST be integral `DIV`: `/` on longs is double division,
    * and 2024-epoch nanos (~1.7e18) exceed double's 53-bit exact range, so
    * `(ts / 1000L).cast("long")` is off by 1 µs for ~12% of values — exactly
    * the oracle divergence this helper exists to prevent.
    */
  def tsUsCol(raw: DataFrame): Column = raw.schema("ts").dataType match {
    case LongType => expr("ts DIV 1000")
    case _        => unix_micros(col("ts"))
  }
  def lineitem(s: SparkSession, d: String): DataFrame  = tbl(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = tbl(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = tbl(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = tbl(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = tbl(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = tbl(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = tbl(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = tbl(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "embeddings")

  /** Startup schema probe (r8 post-mortem item): reads every table's footer
    * schema once and raises ONE clear error naming the table/column whose
    * physical encoding no longer matches an assumption the engine makes —
    * fail loudly once at startup, not 63 times obscurely at analysis.
    * Columns listed here are the ones operators actually touch; dtype sets
    * are the encodings each reader branch handles.
    */
  def probeTables(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.types._
    def ok(dt: DataType, want: String): Boolean = (dt, want) match {
      case (_: IntegerType | _: LongType, "int")  => true
      case (_: DoubleType, "double")              => true
      case (_: StringType, "string")              => true
      case (_: LongType | _: TimestampType, "ts") => true // nanos-as-long | native
      case (ArrayType(_: FloatType | _: DoubleType, _), "vec") => true
      case _                                      => false
    }
    val expect: Seq[(String, Seq[(String, String)])] = Seq(
      "region"   -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
      "nation"   -> Seq("n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
      "customer" -> Seq("c_custkey" -> "int", "c_name" -> "string", "c_nationkey" -> "int",
                        "c_acctbal" -> "double", "c_mktsegment" -> "string"),
      "supplier" -> Seq("s_suppkey" -> "int", "s_name" -> "string", "s_nationkey" -> "int",
                        "s_acctbal" -> "double"),
      "part"     -> Seq("p_partkey" -> "int", "p_name" -> "string", "p_brand" -> "string",
                        "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"),
      "orders"   -> Seq("o_orderkey" -> "int", "o_custkey" -> "int", "o_orderstatus" -> "string",
                        "o_totalprice" -> "double", "o_orderdate" -> "ts",
                        "o_orderpriority" -> "string"),
      "lineitem" -> Seq("l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
                        "l_linenumber" -> "int", "l_quantity" -> "double",
                        "l_extendedprice" -> "double", "l_discount" -> "double",
                        "l_tax" -> "double", "l_returnflag" -> "string",
                        "l_linestatus" -> "string", "l_shipdate" -> "ts"),
      "events"   -> Seq("event_id" -> "int", "ts" -> "ts", "user_id" -> "int",
                        "event_type" -> "string", "value" -> "double", "props" -> "string"),
      "documents"  -> Seq("doc_id" -> "int", "text" -> "string", "lang" -> "string",
                          "source" -> "string", "n_chars" -> "int"),
      "embeddings" -> Seq("vec_id" -> "int", "embedding" -> "vec", "label" -> "int"))
    val problems = expect.flatMap { case (t, cols) =>
      try {
        val sch = tbl(s, dir, t).schema
        cols.flatMap { case (c, want) =>
          sch.find(_.name == c) match {
            case None => Some(s"$t.$c: column missing (have: ${sch.fieldNames.mkString(",")})")
            case Some(f) if !ok(f.dataType, want) =>
              Some(s"$t.$c: dtype ${f.dataType.simpleString} not handled (expected class '$want')")
            case _ => None
          }
        }
      } catch {
        case e: Exception => Seq(s"$t: unreadable (${e.getMessage})")
      }
    }
    if (problems.nonEmpty)
      throw new IllegalStateException(
        s"testdata schema drift under $dir — fix the readers in graft.U before " +
          s"running anything:\n  ${problems.mkString("\n  ")}")
  }

  /** Whitespace tokenization of `text` — the ONE definition every text
    * operator shares (DedupOps, TextOps, PipelineOps delegate here); the
    * DuckDB oracle mirror is `string_split_regex(trim(text), '\s+')`. A
    * change here must change every oracle in lockstep — that is the point
    * of not having three copies.
    */
  def words: Column = split(trim(col("text")), "\\s+")

  /** Context-window chunking constants + kernel, the ONE definition shared
    * by `q_text_chunk` and `q_pipeline_rag_prep` (Spark side here, DuckDB
    * side in [[chunkCte]]); a window/stride change must change all four
    * surfaces in lockstep — hence one source for each engine.
    */
  val ChunkLen = 64
  val ChunkStride = 48

  /** One row per (doc, chunk): doc_id, chunk_id, start_tok, n_tokens,
    * chunk text. Map-side only (explode; no shuffle). Chunk count is
    * exact integer arithmetic — (n - (len-stride+1)) div stride + 1 ≡
    * ceil((n-len)/stride)+1 for n > len.
    */
  def chunked(s: SparkSession, d: String): DataFrame = {
    val hang = ChunkLen - ChunkStride + 1
    val c = documents(s, d)
      .select(col("doc_id"), words.as("w"))
      .filter(size(col("w")) >= 1)
      .withColumn(
        "n_chunks",
        when(size(col("w")) <= ChunkLen, lit(1L))
          .otherwise(expr(s"CAST((size(w) - $hang) div $ChunkStride + 1 AS BIGINT)")))
    val win =
      slice(col("w"), (col("i") * ChunkStride + 1).cast("int"), lit(ChunkLen))
    c.select(
        col("doc_id"),
        col("w"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("i"))
      .select(
        col("doc_id"),
        col("i").as("chunk_id"),
        (col("i") * ChunkStride).as("start_tok"),
        size(win).cast("long").as("n_tokens"),
        array_join(win, " ").as("chunk"))
  }

  /** DuckDB mirror of [[chunked]] as a WITH-clause body ending in CTE `ch`
    * with the same five columns. Constants s-interpolated from the same
    * ChunkLen/ChunkStride values the Spark kernel uses.
    */
  val chunkCte: String = {
    val hang = ChunkLen - ChunkStride + 1
    s"""t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |c AS (
       |  SELECT doc_id, w,
       |    CASE WHEN len(w) <= $ChunkLen THEN 1 ELSE (len(w) - $hang) // $ChunkStride + 1 END AS n_chunks
       |  FROM t WHERE len(w) >= 1),
       |e AS (
       |  SELECT doc_id, w, unnest(generate_series(0, n_chunks - 1)) AS i FROM c),
       |ch AS (
       |  SELECT doc_id, i AS chunk_id, i * $ChunkStride AS start_tok,
       |    CAST(len(w[i*$ChunkStride+1 : i*$ChunkStride+$ChunkLen]) AS BIGINT) AS n_tokens,
       |    array_to_string(w[i*$ChunkStride+1 : i*$ChunkStride+$ChunkLen], ' ') AS chunk
       |  FROM e)""".stripMargin
  }

  /** doc_id + distinct 3-word shingles (docs with >= 3 tokens) — shared by
    * the dedup family and the contamination check so candidate generation
    * and its oracle CTE stay consistent by construction. Codegen'd
    * expression: see [[graft.functions.Shingles]].
    */
  def shingled(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), words.as("w"))
      .filter(size(col("w")) >= 3)
      .select(
        col("doc_id"),
        graft.functions.Shingles.shingles(col("w"), 3).as("shingles"))
}

/** Aggregates every operator group into the driver contract maps. */
object Registry {
  def all: Seq[Q] =
    ops.CoreOps.qs ++ ops.JoinOps.qs ++ ops.AggOps.qs ++ ops.WindowOps.qs ++
      ops.SetOps.qs ++ ops.FnOps.qs ++ ops.TsOps.qs ++ ops.TextOps.qs ++
      ops.DedupOps.qs ++ ops.SimOps.qs ++ ops.MultimodalOps.qs ++
      ops.PipelineOps.qs ++ ops.LayoutOps.qs

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap

  /** For every no-oracle key: the exact counterpart it is verified against
    * and the ScalaTest that does it. Written by Verify as
    * `no_oracle_verification.json` so a `no_oracle` row in the driver's
    * correctness report is self-describing, not silently untested.
    * RegistrySpec asserts this map covers exactly the no-oracle keys.
    */
  val propertyVerification: Map[String, String] = Map(
    "q_agg_approx_distinct" ->
      "vs exact count(DISTINCT) — DedupSimSpec 'approx_count_distinct within rsd bound of exact'",
    "q_agg_approx_quantile" ->
      "vs exact quantiles — DedupSimSpec 'approx quantiles bracket the exact quantiles'",
    "q_dedup_near_minhash" ->
      "vs q_dedup_ngram_jaccard exact-Jaccard pairs — DedupSimSpec 'minhash near-dup pairs at 0.8 match exact n-gram Jaccard pairs at 0.8'",
    "q_dedup_simhash" ->
      "recomputed exact hamming per pair — DedupSimSpec 'simhash near-dup: hamming <= 3 and symmetric-free (a < b)'",
    "q_dedup_embed_lsh" ->
      "vs q_dedup_embed_cosine all-pairs — DedupSimSpec subset + recall >= 90% tests",
    "q_sim_ann_lsh" ->
      "vs q_sim_topk brute-force ranking — DedupSimSpec 'ANN LSH top-k cosines are genuine cosines from the brute-force ranking'",
    "q_sim_ann_ivf" ->
      "vs q_sim_topk brute-force ranking — DedupSimSpec 'ANN IVF top-k cosines are genuine cosines from the brute-force ranking'",
    "q_embed_kmeans" ->
      "vs exact driver-side simulation of the same loop (identical IEEE ops, micro-int means, tie-breaks) — PropertyChecks in-run bit replay (r11) + DedupSimSpec 'k-means codebook training equals an exact driver-side simulation'",
    "q_dedup_semantic" ->
      "vs q_dedup_embed_cosine all-pairs (precision 1, bit-identical cosines) + planted-near-dup recall — DedupSimSpec 'semantic dedup prunes only genuine pairs' / 'SemDeDup recall on planted near-duplicates'",
    "q_agg_heavyhitters" ->
      "Misra-Gries guarantee vs exact counts (every term with freq > n/(k+1) present, f - n/(k+1) <= est <= f) — FunctionsSpec",
    "q_agg_hll_mv" ->
      "merged == direct in the coupon regime, both estimates within the sketch error bound of exact distinct once promoted to dense HLL — FunctionsSpec 'HLL daily sketches union-merge to the direct whole-range estimate'",
    "q_agg_kll_mv" ->
      "merged == direct == exact order statistic (exact-mode sketches at test scale) + parquet round-trip — FunctionsSpec 'KLL daily sketches merge to the direct sketch AND the exact order statistic'",
    // q_ts_holt / q_ts_holtwinters graduated to recursive-CTE DuckDB
    // oracles in r12 (TsOps.HoltOracleSql / HoltWintersOracleSql)
    "q_sim_knn_graph" ->
      "every edge's cosine recomputed bit-exact driver-side + planted cosine-0.9 near-dups find their partner at rank 1 — DedupSimSpec",
    "q_embed_pq" ->
      "per-subspace L2 Lloyd training AND encoding replayed bit-exact driver-side — PropertyChecks in-run bit replay (r11) + DedupSimSpec 'PQ codebook training and encoding equal an exact driver-side simulation'",
    "q_sim_ann_ivfpq" ->
      "every returned cosine bit-identical to the brute-force ranking (exact re-rank) + planted recall@10 — DedupSimSpec 'ANN IVF-PQ'")
    // q_ts_downsample_lttb graduated to an unrolled-argmax DuckDB oracle in
    // r12 (TsOps.LttbOracleSql)
}
