package graft

import org.apache.spark.sql.SparkSession

/** Every `SPARK_GRAFT_*` variable the engine reads, typed, with its
  * default. The entry points read them through [[Harness.config]], never
  * from the environment directly, so this is the whole list (HarnessSpec
  * guards it).
  */
final class RunConfig(env: Map[String, String]) {
  private def passes(name: String): Int = math.max(1, env.getOrElse(name, "2").trim.toInt)

  /** Local threads and shuffle partitions; absent: the entry point's own default. */
  val cpus: Option[Int] = env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
  val sfDir: String = env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  /** The AQE seed mode, see [[autoSeed]] and [[pinnedSeed]]. */
  val initPartitions: Option[String] = env.get("SPARK_GRAFT_INIT_PARTITIONS")
  /** Timed passes of both Bench series. */
  val benchPasses: Int = passes("SPARK_GRAFT_BENCH_PASSES")
  val benchOut: String = env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
  /** The hash series' artifact; empty disables the series. */
  val hashBenchOut: String = env.getOrElse("SPARK_GRAFT_HASH_BENCH_OUT", "BENCH_hash.json")
  val verifyCoalesce: Boolean = !env.get("SPARK_GRAFT_VERIFY_COALESCE").contains("0")
  val qtimePasses: Int = passes("SPARK_GRAFT_QTIME_PASSES")
  val qtimeHash: Boolean = env.get("SPARK_GRAFT_QTIME_AGG").contains("hash")
  val streamBenchOnly: Option[Set[String]] = env.get("SPARK_GRAFT_STREAMBENCH_ONLY").map(RunConfig.keys)
  val annIndexDir: Option[String] = env.get("SPARK_GRAFT_ANN_INDEX_DIR")
  val dumpPreckpt: Option[String] = env.get("SPARK_GRAFT_DUMP_PRECKPT").filter(_.nonEmpty)

  /** Bench's registry subset; an unknown key fails the run. */
  def benchKeys: Option[Set[String]] = RunConfig.registrySubset(env, "SPARK_GRAFT_BENCH_ONLY")

  /** Verify's registry subset; an unknown key fails the run. */
  def verifyKeys: Option[Set[String]] = RunConfig.registrySubset(env, "SPARK_GRAFT_VERIFY_ONLY")

  /** A numeric seed mode: the session-wide AQE seed. */
  def pinnedSeed: Option[String] =
    initPartitions.filter(v => v.nonEmpty && v.forall(_.isDigit))

  /** Is the per-query auto seed active? Unset and "auto" mean yes (the
    * r16 default); a numeric manual seed, "off" or "default" disables the
    * per-query override. Anything else (e.g. "AUTO", a typo) ALSO
    * disables it — the session then keeps its starting seed — but warns
    * to stderr so a misspelling is never a silent config change
    * (ADVICE r16).
    */
  lazy val autoSeed: Boolean = initPartitions match {
    case None | Some("auto")           => true
    case Some("off") | Some("default") => false
    case Some(_) if pinnedSeed.isDefined => false
    case Some(v) =>
      System.err.println(
        s"[autoparts] unrecognized SPARK_GRAFT_INIT_PARTITIONS='$v' " +
          "(expected a number, 'auto', 'off' or 'default'); auto seeding " +
          "DISABLED, session falls back to the builder-default seed")
      false
  }
}

object RunConfig {
  private def keys(raw: String): Set[String] =
    raw.split(",").map(_.trim).filter(_.nonEmpty).toSet

  /** A comma-separated registry key subset: a typo must fail loudly, not
    * silently shrink the run to fewer (or zero) keys. */
  private def registrySubset(env: Map[String, String], variable: String): Option[Set[String]] =
    env.get(variable).map(keys).map { ks =>
      val unknown = ks -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"$variable unknown keys: ${unknown.toSeq.sorted.mkString(",")}")
      ks
    }
}

/** The one wiring point of the engine's entry points (Bench, QTime,
  * Verify, RunOne, SubsetDump, ScaleGen, StreamBench, UpsertReadBench):
  * the run configuration, the local session and the JSON string escape.
  */
object Harness {
  lazy val config: RunConfig = new RunConfig(sys.env)

  /** `SPARK_GRAFT_CPUS`, or the entry point's own default. */
  def cpus(default: Int): Int = config.cpus.getOrElse(default)

  /** The local session every entry point runs on: `cpus` threads and
    * shuffle partitions, UTC, AQE on, no UI. `extraConf` carries what an
    * entry point's plans or dumps depend on (Verify's timestamp type,
    * Bench's and QTime's seeds); `logLevel` what its stderr should show.
    */
  def session(
      defaultCpus: Int,
      extraConf: Seq[(String, String)] = Nil,
      logLevel: String = "WARN"): SparkSession = {
    val n = cpus(defaultCpus).toString
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in a registry oracle's SQL would otherwise
    * make a consumer's json.load fail and silently zero the round's
    * correctness. */
  def jq(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  /** `x` with `digits` decimals under `Locale.ROOT`, the one number
    * formatter of the mains' output. Under a comma-decimal default locale
    * (de_DE) `%.3f` prints `0,734`: a JSON number splits in two, and a
    * tool reading `min=([\d.]+)` takes the value as 0 s. */
  def fixed(x: Double, digits: Int = 3): String =
    s"%.${digits}f".formatLocal(java.util.Locale.ROOT, x)
}
