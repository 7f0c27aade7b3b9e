package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the settings of the one session factory (the test fixture is
  * built by it) and the `Dev time` JSON that the committed
  * isolated-floors artifacts are written in. */
class SessionsSpec extends SparkSpec {

  test("the shared test session carries the factory's settings") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(conf.get("spark.cleaner.periodicGC.interval") === "3min")
    // the factory registers graft's native functions itself
    val c = spark.sql(
      "SELECT graft_cosine(array(3.0F, 4.0F), array(4.0F, 3.0F)) AS c").head().getDouble(0)
    assert(math.abs(c - 0.96) < 1e-9)
  }

  test("Dev time writes the isolated-floors JSON on the caller's session") {
    val dir = Files.createTempDirectory("dev-time")
    val out = dir.resolve("floors.json")
    Dev.command(Array("time", sfDir, "knn_cosine", "1", out.toString))(spark)
    assert(!spark.sparkContext.isStopped, "Dev time must not stop the caller's session")
    val j = new ObjectMapper().readTree(out.toFile)
    assert(j.get("sf").asText() === "sf0.001")
    assert(j.get("cpus").asText() === "4")
    assert(j.get("protocol").asText().contains("1 cold + 1 warm"))
    val q = j.get("queries").get("knn_cosine")
    assert(q.get("cold").isNumber && q.get("cold").asDouble() >= 0.0)
    assert(q.get("warm").isArray && q.get("warm").size() === 1)
    assert(q.get("warm").get(0).isNumber)
    Files.delete(out); Files.delete(dir)
  }

  test("Dev rejects an unknown subcommand, a missing argument or an unknown query before any session") {
    Seq(Array[String](), Array("telemetry", sfDir), Array("time"), Array("explain", sfDir))
      .foreach { args =>
        val e = intercept[IllegalArgumentException](Dev.command(args))
        assert(e.getMessage.startsWith("usage: graft.Dev"))
      }
    val e = intercept[IllegalArgumentException](
      Dev.command(Array("explain", sfDir, "knn_cosine,no_such_query")))
    assert(e.getMessage.contains("unknown declared queries: no_such_query"))
  }
}
