package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the driver testdata: reads the sf0.1 tables
  * and writes an sf1-shaped copy (default 10x) under `testdata_sf1/`
  * (gitignored), preserving the generator's schema and statistical shape so
  * `Bench` can measure per-query sf0.1 -> sf1 scaling ratios — the
  * empirical evidence behind the 100 TB plan-shape claims.
  *
  * Replication discipline — a plain 10x copy would CHANGE the workload
  * shape, not just its size, so each replica i gets a disjoint key space
  * and decorrelated content:
  *
  *   - every int64 entity key (custkey, suppkey, partkey, orderkey,
  *     event_id, user_id, doc_id, vec_id) shifts by i * 1e9, and foreign
  *     keys shift by the same offset, so join fan-out per key is IDENTICAL
  *     to the base data (10x more keys, not 10x hotter keys);
  *   - `region`/`nation` stay fixed — they are the TPC-H dims that do not
  *     scale with sf, so the nationkey fan-out grows 10x exactly as TPC-H's
  *     own scaling does;
  *   - `documents.text` in replicas i>0 gets a deterministic positional
  *     word permutation seeded by (i, wordCount): exact duplicates within a
  *     replica stay exact duplicates (same text => same permutation), and
  *     same-length near-duplicates keep their shared word-shingles (both
  *     sides move words to the same positions), while CROSS-replica
  *     shingle overlap collapses to noise — without this, each dup group of
  *     size g becomes one group of size 10g and the near-dup pair graph
  *     grows quadratically instead of linearly;
  *   - `embeddings.embedding` in replicas i>0 gets a deterministic
  *     dimension permutation + sign flips (an orthogonal transform seeded
  *     by i): all WITHIN-replica cosines/distances are preserved exactly
  *     (the per-replica cluster and near-dup structure is isomorphic to the
  *     base), while cross-replica cosine of a vector vs its own copy drops
  *     to ~N(0, 1/sqrt(64)) — far below every similarity threshold the
  *     engine uses.
  *
  * Run: `sbt "runMain graft.ScaleGen [srcDir] [dstDir] [factor]"`.
  */
object ScaleGen {
  private val KeySpan = 1000000000L // > any base key (max observed ~6e5)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("testdata_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Harness.session(32)
    if (args.contains("--diverse-part")) {
      diversePart(spark, src, factor)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/part.parquet")
      println(s"[scalegen] diverse part written ($factor x)")
    } else {
      // --tables doc,emb,...: generate a SUBSET of tables (the sf100 probe
      // needs only documents + embeddings — 1000x the full 10-table set
      // would be ~16 GB of lineitem nobody probes)
      val tables = args.sliding(2).collectFirst {
        case Array("--tables", t) => t.split(",").map(_.trim).toSet
      }
      generate(spark, src, dst, factor, tables)
    }
    spark.stop()
  }

  /** Diverse-vocabulary catalog variant (r12; VERDICT r11 item 2) — writes
    * ONLY a `part` table. The driver catalog's 92-word name vocabulary
    * saturates ANY substring signature (measured: 1.05 B of 8 B
    * probe x catalog pairs share a PassJoin segment at sf10 — 13% density),
    * so `q_join_fuzzy`'s verify step is data-bound quadratic THERE. A real
    * product catalog carries shared vocabulary PLUS per-item distinguishing
    * tokens spread through the name (brand + model number + variant codes);
    * this variant models that by INTERLEAVING three unique 8-hex SKU tokens
    * (thirds of md5(key)) at the start, middle, and end of each name — a
    * mere suffix was measured insufficient (the middle PassJoin segment
    * stayed pure shared vocabulary and its candidates still grew 100x per
    * 100x corpus: 1.45 M -> 145 M), while the interleave puts a unique
    * token chunk inside EVERY third of the string, so each segment key is
    * per-item distinct and candidates stay O(probes). The fuzzy probes
    * (first char dropped, every 500th key) still resolve to their source
    * at distance 1.
    */
  private def diversePart(
      spark: SparkSession, src: String, factor: Int): DataFrame = {
    val shifted = replicate(U.tbl(spark, src, "part"), factor) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * KeySpan))
    }
    shifted
      .withColumn("h", md5(col("p_partkey").cast("string")))
      .withColumn("w", split(col("p_name"), " "))
      .withColumn("nm", expr("size(w) div 2"))
      .withColumn(
        "p_name",
        array_join(
          flatten(array(
            array(substring(col("h"), 1, 8)),
            expr("slice(w, 1, nm)"),
            array(substring(col("h"), 9, 8)),
            expr("slice(w, nm + 1, size(w) - nm)"),
            array(substring(col("h"), 17, 8)))),
          " "))
      .drop("h", "w", "nm")
  }

  def generate(spark: SparkSession, src: String, dst: String, factor: Int,
      tables: Option[Set[String]] = None): Unit = {
    // no post-write count: re-reading the just-written table solely for a
    // log line doubles the I/O per table at sf1 scale (r10 advice); the
    // sanity counts live in the consumers (Bench probes, DedupSimSpec pins)
    def write(name: String, df: => DataFrame): Unit =
      if (tables.forall(_.contains(name))) {
        df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
        println(s"[scalegen] $name written")
      }
    def shifted(name: String, keys: Seq[String]): DataFrame = {
      val base = U.tbl(spark, src, name)
      replicate(base, factor) { (df, i) =>
        keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * KeySpan)))
      }
    }

    write("region", U.tbl(spark, src, "region"))
    write("nation", U.tbl(spark, src, "nation"))
    write("customer", shifted("customer", Seq("c_custkey")))
    write("supplier", shifted("supplier", Seq("s_suppkey")))
    write("part", shifted("part", Seq("p_partkey")))
    write("orders", shifted("orders", Seq("o_orderkey", "o_custkey")))
    write("lineitem", shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", shifted("events", Seq("event_id", "user_id")))
    write("documents", scaledDocuments(spark, src, factor))
    write("embeddings", scaledEmbeddings(spark, src, factor))
  }

  private def replicate(base: DataFrame, factor: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(i => f(base, i)).reduce(_ union _)

  /** Deterministic Fisher-Yates permutation of 0 until n, seeded. */
  private[graft] def permutation(n: Int, seed: Long): Array[Int] = {
    val r = new scala.util.Random(seed)
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  private[graft] def permuteText(text: String, replica: Int): String = {
    if (replica == 0) return text
    val words = text.trim.split("\\s+").filter(_.nonEmpty)
    if (words.length < 2) return text
    val p = permutation(words.length, replica.toLong * 1000003L + words.length)
    Array.tabulate(words.length)(k => words(p(k))).mkString(" ")
  }

  private[graft] def transformVec(v: Seq[Float], replica: Int): Seq[Float] = {
    if (replica == 0) return v
    val n = v.length
    val seed = replica.toLong * 7776001L + n
    val p = permutation(n, seed)
    val r = new scala.util.Random(seed ^ 0x5deece66dL)
    val signs = Array.fill(n)(if (r.nextBoolean()) 1f else -1f)
    Seq.tabulate(n)(k => signs(k) * v(p(k)))
  }

  private def scaledDocuments(spark: SparkSession, src: String, factor: Int): DataFrame = {
    import spark.implicits._
    val base = U.tbl(spark, src, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)]
    replicate(base.toDF(), factor) { (df, i) =>
      // replica 0 passes n_chars THROUGH untouched (r10 advice): the base
      // slice must stay byte-identical to the driver's sf0.1 even if a
      // future upstream regen defines n_chars differently from length(text)
      // — the per-query scaling-ratio comparison depends on replica 0 being
      // the exact base corpus. Replicas > 0 recompute it from the permuted
      // text (a word permutation preserves length only up to whitespace
      // normalization, so recomputation is the honest value there).
      df.as[(Long, String, String, String, Long)].map { case (id, text, lang, source, nc) =>
        val t = permuteText(text, i)
        (id + i * KeySpan, t, lang, source, if (i == 0) nc else t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    }
  }

  private def scaledEmbeddings(spark: SparkSession, src: String, factor: Int): DataFrame = {
    import spark.implicits._
    val base = U.tbl(spark, src, "embeddings")
      .select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)]
    replicate(base.toDF(), factor) { (df, i) =>
      df.as[(Long, Seq[Float], Int)].map { case (id, vec, label) =>
        (id + i * KeySpan, transformVec(vec, i), label)
      }.toDF("vec_id", "embedding", "label")
    }
  }
}
