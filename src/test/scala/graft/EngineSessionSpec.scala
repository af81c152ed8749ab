package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every session the engine starts comes from [[EngineSession]], so the
  * engine's settings come from its own code and not from a launcher's or
  * the build's JVM flags. */
class EngineSessionSpec extends SparkTestBase {

  test("only EngineSession builds a Spark session in src/main and src/test") {
    val call = "SparkSession" + ".builder"
    val sites = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(p => Files.readString(p).linesIterator.zipWithIndex.collect {
          case (l, i) if l.contains(call) => s"$p:${i + 1}"
        }).toList
    }
    assert(sites.map(_.takeWhile(_ != ':')) == Seq("src/main/scala/graft/EngineSession.scala"),
      s"$call outside EngineSession:\n  ${sites.mkString("\n  ")}")
  }

  test("the test session carries the engine settings, not the JVM's") {
    val keys = Seq("spark.sql.session.timeZone", "spark.ui.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.shuffle.partitions")
    keys.foreach(k => assert(sys.props.get(k).isEmpty, s"$k is a JVM system property"))
    val fresh = spark.newSession().conf
    assert(spark.sparkContext.master == s"local[${SparkTestBase.cores}]")
    assert(fresh.get("spark.sql.shuffle.partitions") == SparkTestBase.cores.toString)
    assert(fresh.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(fresh.get(keys(2)) == "64MB")
  }

  test("SPARK_GRAFT_ONLY is trimmed and an unknown name fails the run") {
    val known = Set("q_a", "q_b")
    assert(EngineSession.only(known, None).isEmpty)
    assert(EngineSession.only(known, Some("q_a, q_b,")).contains(known))
    val e = intercept[IllegalArgumentException](EngineSession.only(known, Some("q_a,q_typo, q_zz")))
    assert(e.getMessage.endsWith("unknown queries: q_typo, q_zz"))
  }
}
