package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: the driver mains (Bench,
  * Verify), the audits, the test fixture and library users all get
  * the session the engine expects (UTC, ns-timestamp tolerance, graft
  * SQL functions and optimizer rules), in one call:
  *
  * {{{
  * val spark = GraftSession.builder().master("local[32]").build()
  * val topk  = ps.PsQueries.queries.find(_.id == "mf_topk").get
  *               .fn(spark, "/data/sf0.1")
  * val (p, q, loss) = ps.MfTrainer.train(spark, myRatings)
  * }}}
  *
  * A `local[...]` master also gets the local scratch policy: a
  * per-process warehouse ([[Warehouse]]) and shuffle/spill files on
  * the fastest local storage ([[Scratch]]). On a cluster, drop the
  * master call and submit normally; the cluster keeps its own paths,
  * and every operator scales through partitioning, not through
  * session config. UI and heap settings belong to the launcher
  * (`-Dspark.ui.enabled=false` in build.sbt and tools/).
  */
object GraftSession {

  final class Builder private[GraftSession] () {
    private var masterOpt: Option[String] = None
    private var appName: String = "graft"
    private var shufflePartitions: Option[Int] = None

    def master(m: String): Builder = { masterOpt = Some(m); this }
    def name(n: String): Builder = { appName = n; this }
    def shuffle(p: Int): Builder = { shufflePartitions = Some(p); this }

    def build(): SparkSession = {
      var b = SparkSession.builder().appName(appName)
        .config("spark.sql.session.timeZone", "UTC")
        // events.ts is parquet TIMESTAMP(NANOS), which Spark 4 rejects
        // by default; read as long, converted in sources.Tables.events
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        // full extension set (SQL functions + optimizer fusion rules)
        // for sessions the builder actually constructs; registerOn
        // below covers the pre-existing-session path for functions
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      masterOpt.foreach { m =>
        b = b.master(m)
        if (m.startsWith("local")) {
          // managed-table writes (join_bucketed) off the launch CWD,
          // per process so concurrent JVMs can't race the table builds
          b = b.config("spark.sql.warehouse.dir", Warehouse.dir)
          Scratch.fastRoot.foreach(d => b = b.config("spark.local.dir", d))
        }
      }
      // default: one shuffle partition per core locally; on a cluster
      // leave it to AQE coalescing unless pinned explicitly
      shufflePartitions.foreach(p =>
        b = b.config("spark.sql.shuffle.partitions", p))
      val spark = b.getOrCreate()
      functions.GraftExtensions.registerOn(spark)
      spark
    }
  }

  def builder(): Builder = new Builder()

  /** Local worker count: SPARK_GRAFT_CPUS when it is a positive
    * integer; unset, empty, non-numeric or ≤0 values fall back to
    * `fallback` (every core, at least 4). */
  def cpus(raw: Option[String] = sys.env.get("SPARK_GRAFT_CPUS"),
      fallback: Int = math.max(4, Runtime.getRuntime.availableProcessors())): Int =
    raw.flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(fallback)
}
