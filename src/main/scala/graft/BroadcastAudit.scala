package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

/** Diagnostic main: find broadcasts whose BUILD SIDE grows with the
  * corpus — the 100-TB failure class a fixture-scale suite can't see
  * by timing. A broadcast that fits at sf0.1 but is keyed by an
  * unbounded universe (vocabulary, doc ids, pair keys) grows with the
  * data and OOMs every executor at production scale; r6 caught
  * text_tfidf's full-vocabulary df broadcast by HAND-auditing plans.
  * This automates the check empirically: run every qid against the 1x
  * and 10x rehearsal corpora (ScaleRehearsal's namespaced id-shifted
  * replication — vocabulary, doc count, and key universes all scale
  * k x) and compare each qid's LARGEST broadcast build, by the
  * executed plan's own numOutputRows metric.
  *
  *   - ~1x ratio: the build side is structurally bounded (a fixed
  *     query band, a dim table, a 1-row stats aggregate, a capped
  *     top-k) — safe at any scale.
  *   - ~kx ratio: the build side tracks the corpus — an OOM at some
  *     scale is a WHEN, not an IF, and the broadcast must move to the
  *     bounded side or become a shuffled join.
  *
  * Dims replicated by the rehearsal (nation, region) flag at kx by
  * construction; triage those as bounded-in-production. Usage:
  * graft.BroadcastAudit [dir1x] [dir10x] — prints per-qid max build
  * rows at both scales, worst growth first, flagging ratio >= 5.
  *
  * r9 results: default mode flags 26 qids, dominated by AQE's OWN
  * fixture-scale broadcast choices (self-correcting — the threshold
  * un-chooses them as the side grows). Hinted mode flags exactly TWO:
  * dedup_decontam's eval-gram set (fixed in production — benchmarks
  * are MBs; it grows here only because the rehearsal replicates
  * src0) and join_broadcast's part dim (the qid that exists to
  * demonstrate the hint; part doubles as the rehearsal's hierarchy
  * keyspace, so it scales there — see its Scaladoc for the drop-the-
  * hint-at-scale contract). No hint-forced broadcast tracks the
  * corpus unexpectedly.
  */
object BroadcastAudit {
  /** numOutputRows of every live (non-reused) broadcast build in `p`. */
  private def broadcastRows(p: SparkPlan): Seq[Long] = p match {
    case a: AdaptiveSparkPlanExec => broadcastRows(a.executedPlan)
    case s: QueryStageExec => broadcastRows(s.plan)
    case _: ReusedExchangeExec => Nil
    case _: InMemoryTableScanExec => Nil
    case b: BroadcastExchangeExec =>
      b.metrics.get("numOutputRows").map(_.value).toSeq ++
        (b.children ++ b.subqueries).flatMap(broadcastRows)
    case other =>
      (other.children ++ other.subqueries).flatMap(broadcastRows)
  }

  def main(args: Array[String]): Unit = {
    val dir1 = args.headOption.getOrElse("/tmp/graft_scale/x1")
    val dirK = args.drop(1).headOption.getOrElse("/tmp/graft_scale/x10")
    // hinted-broadcast mode (SPARK_GRAFT_NO_BCAST, see Audit.session):
    // with the auto thresholds off, every broadcast AQE would have
    // CHOSEN (and will un-choose once the side outgrows the threshold —
    // self-correcting at scale) disappears; what remains is hint-forced
    // by our code, and growth THERE is the real unbounded-broadcast
    // finding
    val spark = Audit.session()
    val tap = new Audit.PlanTap(spark, broadcastRows)
    val ordered = Audit.queries()
    def sweep(dir: String): Map[String, Long] =
      Audit.sweep(spark, tap, ordered, dir)((_, execs) =>
        execs.flatten.foldLeft(0L)(math.max)).toMap

    val at1 = sweep(dir1)
    val atK = sweep(dirK)
    val rows = ordered.map(_._1).map { q =>
      val (a, b) = (at1(q), atK(q))
      val ratio = if (a > 0) b.toDouble / a else if (b > 0) Double.PositiveInfinity else 1.0
      (q, a, b, ratio)
    }.sortBy(-_._4)
    var flagged = 0
    rows.foreach { case (q, a, b, r) =>
      if (b > 0 && r >= 5.0) {
        flagged += 1
        println(f"GROWS $r%6.1fx  $q%-24s build rows $a%8d -> $b%8d")
      }
    }
    println(s"broadcasts growing >=5x from $dir1 to $dirK: $flagged")
    spark.stop()
  }
}
