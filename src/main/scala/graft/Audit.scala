package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Shared plumbing of the empirical audit mains (ScanAudit,
  * BroadcastAudit, SerialStageAudit, ShuffleGrowthAudit,
  * ShjBuildAudit): the audit session, a per-execution plan tap, and
  * the name-ordered qid sweep with Bench's family-boundary cache
  * clears.
  */
object Audit {
  /** Local audit session, logging at ERROR. With SPARK_GRAFT_NO_BCAST
    * set, broadcast joins are disabled: every join takes the shape a
    * non-broadcastable (100 TB) side gets, and the audit reports what
    * THAT plan pays — the scale-path answer, where a fixture-scale
    * broadcast choice would hide redundant reads, serial stages or
    * shuffle growth, and only hint-forced broadcasts remain. */
  def session(shuffle: Int = GraftSession.cpus(),
      cores: Int = GraftSession.cpus()): SparkSession = {
    val spark = GraftSession.builder().master(s"local[$cores]")
      .shuffle(shuffle).build()
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.contains("SPARK_GRAFT_NO_BCAST")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    spark
  }

  /** `f` of the executed plan of every successful SQL execution on
    * `spark`, in delivery order. Listener delivery is asynchronous (and
    * the bus drain is private API), so [[drain]] waits until the
    * delivered count holds for 3 reads 30 ms apart (3 s deadline),
    * then takes everything delivered so far. */
  final class PlanTap[A](spark: SparkSession, f: SparkPlan => A) {
    private val seen = new ConcurrentLinkedQueue[A]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f(qe.executedPlan))
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    def drain(): Seq[A] = {
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 3_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(30)
        val now = seen.size()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq
    }
  }

  type Query = (SparkSession, String) => DataFrame

  /** Registered qids in name order. SPARK_GRAFT_ONLY (comma-separated
    * prefixes, unset on full runs) re-checks just the qids a fix
    * touched. stream_live_* execute via IncrementalExecution, which
    * never reaches QueryExecutionListener — running them would pay
    * seconds of streaming machinery per sweep to audit only the
    * trivial post-sink batch fragment, recording HOLLOW coverage.
    * Their scale story is the batch twins' (same shapes) plus the
    * StreamingMlSpec equality proofs; they are excluded LOUDLY. */
  def queries(): Seq[(String, Query)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .filterNot { case (n, _) =>
        val skip = n.startsWith("stream_live")
        if (skip) println(s"SKIP $n (streaming IncrementalExecution is invisible to QueryExecutionListener)")
        skip
      }
  }

  /** Run each of `qs` on `dir` through collect() and hand its tapped
    * per-execution records to `each`, clearing the cache after the
    * last qid of each family (the Bench run order). */
  def sweep[A, B](spark: SparkSession, tap: PlanTap[A], qs: Seq[(String, Query)],
      dir: String)(each: (String, Seq[A]) => B): Seq[(String, B)] = {
    def family(name: String): String = name.takeWhile(_ != '_')
    qs.zipWithIndex.map { case ((name, fn), i) =>
      tap.drain()
      try fn(spark, dir).collect()
      catch { case t: Throwable => println(s"ERR $name $dir ${t.getClass.getSimpleName}") }
      val out = name -> each(name, tap.drain())
      if (i + 1 >= qs.size || family(qs(i + 1)._1) != family(name))
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      out
    }
  }
}
