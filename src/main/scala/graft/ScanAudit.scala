package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

/** Diagnostic main: count LIVE parquet scans per source file in each
  * qid's executed plans — the suite-wide version of the sketch_tow
  * round-9 finding. A table appearing twice in one final adaptive plan
  * means AQE exchange reuse did NOT collapse two canonically-unequal
  * subtrees over the same data; at fixture scale that is noise, at
  * 100 TB it is a full redundant table read. The usual cause is a
  * pushed-filter mismatch: one branch's join implies IsNotNull on a
  * column the other branch doesn't filter, the scans differ, and
  * nothing upstream canonicalizes equal. The usual fix is free —
  * align the filters explicitly where that is semantically a no-op.
  *
  * "Live" = a FileSourceScan reachable in the FINAL adaptive plan
  * without passing through a ReusedExchange (computed once elsewhere)
  * or an InMemoryTableScan (paid once at cache build, which this audit
  * sees as its own execution). Counts are collected per SQL execution
  * via a QueryExecutionListener, so multi-action qids (loops, eager
  * family builds) report the scans each round actually pays.
  *
  * The driving action is collect(), NOT Bench's count(): under count
  * Catalyst prunes every output column, which can legitimately
  * restructure branches (e.g. collapse groupBy(a,b)->groupBy(a) once
  * the aggregate is unused) and make subtrees diverge that are shared
  * in the materialized plan — sketch_tow single-scans under collect
  * but double-scans under count, by design. The materialized plan is
  * what the correctness gate and a real user pay for.
  *
  * Usage: graft.ScanAudit [sfDir] — prints one line per (qid, file)
  * whose worst single execution scans the file more than once, then a
  * summary. Run order and family-boundary cache clears mirror Bench.
  */
object ScanAudit {
  /** Source files scanned by `p`, one entry per live scan node, tagged
    * with how the scan is consumed — the tag decides whether a
    * duplicate is a SCALE problem:
    *
    *   - `bcast`: under a BroadcastExchange — the duplicate is a
    *     broadcast BUILD of data also read elsewhere. Whether it
    *     persists at production scale depends on whether the shuffled
    *     plan's subtrees canonicalize equal; do NOT assume broadcast
    *     duplicates vanish at scale — rerun with
    *     SPARK_GRAFT_NO_BCAST=1 (broadcast joins disabled, the shape
    *     a non-broadcastable side gets) and read THAT count as the
    *     scale-path answer. r9 measured both outcomes: dedup_embed's
    *     symmetric self-join DOES collapse on the shuffled path,
    *     while the structurally-divergent qids (raw rows vs
    *     aggregated above the scan) did not and needed restatements.
    *   - `subq`: inside a scalar/IN-subquery plan — a separate pass
    *     over the table that the semantics themselves demand.
    *   - `main`: in the main pipeline. A file appearing twice with
    *     tag `main` and identical slice is a real double read in
    *     THIS plan; the fix is a restatement that derives both
    *     consumers from one shuffled relation (see text_langid,
    *     fn_collate, dedup_lines r9) or an aligned subtree that AQE
    *     can reuse (sketch_tow r9).
    */
  private[graft] def liveScans(p: SparkPlan, tag: String = "main"): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => liveScans(a.executedPlan, tag)
    case s: QueryStageExec => liveScans(s.plan, tag)
    case _: ReusedExchangeExec => Nil
    case _: InMemoryTableScanExec => Nil
    case f: FileSourceScanExec =>
      // key on (file, pushed filters, read schema): two scans of the
      // same file reading DIFFERENT slices (set ops over disjoint
      // filters, SCD2's current-vs-history split) are legitimate
      // partial reads at scale; two IDENTICAL scans are a redundancy
      val filters = f.dataFilters.map(_.sql).sorted.mkString(" AND ")
      val schema = f.requiredSchema.fieldNames.sorted.mkString(",")
      f.relation.location.rootPaths.map(p => s"${p.getName}[$schema][$filters]" -> tag)
        .map { case (k, t) => s"$t $k" }.toSeq
    case b: BroadcastExchangeExec =>
      (b.children.flatMap(liveScans(_, "bcast"))
        ++ b.subqueries.flatMap(liveScans(_, "subq")))
    case other =>
      (other.children.flatMap(liveScans(_, tag))
        ++ other.subqueries.flatMap(liveScans(_, "subq")))
  }

  /** Live (non-reused) shuffle exchanges in `p`. Two live exchanges in
    * one execution whose canonicalized plans are semantically equal are
    * a MISSED reuse: identical data, identically partitioned, computed
    * twice — either an AQE canonicalization near-miss worth
    * restructuring around, or work that should derive from one shared
    * relation. (ScanAudit's scan metric only sees duplicates that reach
    * a parquet scan; this catches recomputed DERIVED relations too.) */
  private[graft] def liveExchanges(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => liveExchanges(a.executedPlan)
    case s: QueryStageExec => liveExchanges(s.plan)
    case _: ReusedExchangeExec => Nil
    case _: InMemoryTableScanExec => Nil
    case e: ShuffleExchangeExec =>
      e +: (e.children ++ e.subqueries).flatMap(liveExchanges)
    case other =>
      (other.children ++ other.subqueries).flatMap(liveExchanges)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // SPARK_GRAFT_NO_BCAST: scale-path mode, see Audit.session
    val spark = Audit.session()
    // per execution: the live scans, and the missed exchange reuses
    val tap = new Audit.PlanTap(spark, p =>
      (liveScans(p), liveExchanges(p)
        .groupBy(_.canonicalized.semanticHash()).values
        .filter(g => g.size > 1 && g.sliding(2).forall {
          case Seq(x, y) => x.sameResult(y); case _ => true
        })
        .map(g => s"${g.size}x ${g.head.outputPartitioning}")))
    var flagged = 0
    var mainFlagged = 0
    var exchFlagged = 0
    Audit.sweep(spark, tap, Audit.queries(), sfDir) { (name, records) =>
      val execs = records.map(_._1)
      // worst single execution per file (the redundant-read signal) and
      // the total across executions (loop context)
      // group by the slice key (tag stripped); report the tag multiset
      // so broadcast-choice duplicates are visibly distinct from real
      // main-pipeline double reads
      val worst = mutable.Map[String, Int]().withDefaultValue(0)
      val total = mutable.Map[String, Int]().withDefaultValue(0)
      val tags = mutable.Map[String, mutable.Buffer[String]]()
      execs.foreach { sc =>
        sc.map(_.split(" ", 2)).map { case Array(t, k) => (k, t) }
          .groupBy(_._1).foreach { case (f, hits) =>
            worst(f) = math.max(worst(f), hits.size)
            total(f) += hits.size
            tags.getOrElseUpdate(f, mutable.Buffer()) ++= hits.map(_._2)
          }
      }
      worst.toSeq.sortBy(-_._2).foreach { case (f, w) =>
        if (w > 1) {
          flagged += 1
          val mains = tags(f).count(_ == "main")
          if (mains > 1) mainFlagged += 1
          println(f"$w%3d in one exec (${total(f)}%3d over ${execs.size}%2d execs, tags=${tags(f).sorted.mkString("/")})  $name%-24s $f")
        }
      }
      records.flatMap(_._2).foreach { d =>
        exchFlagged += 1
        println(s"EXCH missed reuse  $name  $d")
      }
    }
    println(s"flagged (identical slice scanned >1x in a single execution): $flagged")
    println(s"of which >1 main-pipeline reads (the real scale findings): $mainFlagged")
    println(s"missed exchange reuses (semantically-equal live shuffles): $exchFlagged")
    spark.stop()
  }
}
