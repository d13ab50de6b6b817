package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The entry points' shared wiring: the run configuration, the per-query
  * seed policy, and the rule that only `Harness` reads the environment or
  * builds a session. */
class HarnessSpec extends SparkSpec {
  private val SeedConf = AutoParts.SeedConf

  test("a key subset naming an unknown key fails loudly, for Bench and Verify alike") {
    val typo = new RunConfig(Map(
      "SPARK_GRAFT_BENCH_ONLY" -> "q_select_by_id_range,q_no_such_key",
      "SPARK_GRAFT_VERIFY_ONLY" -> "q_select_by_id_range, q_no_such_key"))
    Seq[(String, () => Option[Set[String]])](
      "SPARK_GRAFT_BENCH_ONLY" -> (() => typo.benchKeys),
      "SPARK_GRAFT_VERIFY_ONLY" -> (() => typo.verifyKeys)).foreach { case (variable, keys) =>
      val e = intercept[IllegalArgumentException](keys())
      assert(e.getMessage.contains(s"$variable unknown keys: q_no_such_key"))
    }
    val ok = new RunConfig(Map("SPARK_GRAFT_VERIFY_ONLY" -> " q_select_by_id_range ,"))
    assert(ok.verifyKeys === Some(Set("q_select_by_id_range")))
    assert(new RunConfig(Map.empty).verifyKeys === None)
  }

  test("a failed plan analysis puts back the seed the session started with, pinned or not") {
    assume(AutoParts.autoEnabled, "needs the default auto seed mode")
    val unpinned = spark.newSession()
    val pinned = spark.newSession()
    pinned.conf.set(SeedConf, "77")
    Seq(unpinned -> None, pinned -> Some("77")).foreach { case (s, start) =>
      assert(s.conf.getOption(SeedConf) === start, "premise: the starting seed")
      val seeder = new AutoParts.Seeder(s, 4, "test")
      assert(seeder("q_not_in_registry", s.range(10).toDF()) === 4)
      assert(s.conf.getOption(SeedConf) === Some("4"))
      assert(seeder("q_bad_plan", s.sql("SELECT * FROM no_such_table")) === -1)
      assert(s.conf.getOption(SeedConf) === start)
      seeder("q_not_in_registry", s.range(10).toDF())
      seeder.restore()
      assert(s.conf.getOption(SeedConf) === start)
    }
  }

  test("only Harness reads a SPARK_GRAFT_ variable or builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 40, s"premise: the main sources are under $root")
    val harness = root.resolve("graft/Harness.scala")
    val read = "sys\\.env|System\\.getenv|\"SPARK_GRAFT_|SparkSession\\.builder\\(".r
    def hits(p: Path): Seq[String] =
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if read.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }.toSeq
    assert(files.filter(_ != harness).flatMap(hits) === Nil)
    assert(hits(harness).count(_.contains("SparkSession.builder(")) === 1)
  }
}
