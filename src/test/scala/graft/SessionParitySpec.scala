package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Session-parity lock: every SparkSession comes from GraftSession, so
  * the graded (Bench), verify, audit, test and library sessions run
  * the same config — and this suite's own session proves it carries
  * that config with no per-suite setup. */
class SessionParitySpec extends SparkSpec {

  test("sessions are built only in GraftSession.scala") {
    val direct = """\bSparkSession\s*\.\s*builder\b""".r
    val walk = Files.walk(Paths.get(sys.props("user.dir"), "src"))
    val sources =
      try walk.iterator().asScala.filter(p =>
        Files.isRegularFile(p) &&
          (p.toString.endsWith(".scala") || p.toString.endsWith(".java"))).toList
      finally walk.close()
    assert(sources.exists(_.endsWith(Paths.get("graft", "GraftSession.scala"))),
      s"GraftSession.scala not found under ${sys.props("user.dir")}/src")
    val offenders = sources.filter(p =>
      p.getFileName.toString != "GraftSession.scala" &&
        direct.findFirstIn(Files.readString(p)).nonEmpty)
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.builder(), not directly: ${offenders.mkString(", ")}")
  }

  test("the test session carries the factory config with no manual setup") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val warehouse = new org.apache.hadoop.fs.Path(
      conf.get("spark.sql.warehouse.dir")).toUri.getPath
    assert(Paths.get(warehouse).startsWith(Paths.get(Scratch.tmpRoot)),
      s"warehouse $warehouse is not under ${Scratch.tmpRoot}")
    assert(spark.experimental.extraOptimizations.isEmpty)
    // the HOF dot product fuses through the session's own extensions
    val dot = spark.range(2)
      .selectExpr("transform(sequence(0, 2), i -> cast(i + id AS double)) AS a",
        "transform(sequence(0, 2), i -> 2.0D) AS b")
      .selectExpr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v) AS dot")
    assert(dot.queryExecution.optimizedPlan.expressions.exists(_.exists(
      _.isInstanceOf[graft.functions.ArrayDotProduct])),
      dot.queryExecution.optimizedPlan.toString)
  }

  test("SPARK_GRAFT_CPUS: a positive integer wins, anything else falls back") {
    def cpus(raw: String) = GraftSession.cpus(Some(raw), fallback = 7)
    assert(cpus("6") === 6)
    assert(cpus(" 6 ") === 6)
    assert(cpus("") === 7)
    assert(cpus("abc") === 7)
    assert(cpus("0") === 7)
    assert(cpus("-2") === 7)
    assert(GraftSession.cpus(None, fallback = 7) === 7)
    // the default fallback is every core, at least 4
    assert(GraftSession.cpus(Some("abc")) ===
      math.max(4, Runtime.getRuntime.availableProcessors()))
  }
}
