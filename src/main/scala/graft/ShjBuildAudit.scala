package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec

/** Diagnostic main (r14, VERDICT r13 ask #7): empirical §5
  * spill-headroom check for the hint-forced ShuffledHashJoins
  * (graph_pagerank's share build + e ⋈ share, join_skew_salt's salted
  * dim). SHJ's one failure mode SMJ doesn't have is a per-partition
  * BUILD side that outgrows task memory — the argument that each
  * build is bounded (node-partitioned share, (key,salt)-partitioned
  * dim replica) needs a measured rehearsal, not prose.
  *
  * Method: run the SHJ-carrying qids against the 1x and 10x rehearsal
  * corpora with the shuffle width scaled BY THE SAME FACTOR (the
  * production contract — width tracks data), and compare per-partition
  * build bytes (executed-plan buildDataSize / width). A scale-safe
  * hash-distributed build stays ~FLAT; growth ~k means a single
  * indivisible key group tracks the corpus (salting or a different
  * strategy needed); anything superlinear is an immediate red flag.
  *
  * Usage: graft.ShjBuildAudit [dir1x] [dir10x] [k]
  * (defaults /tmp/graft_scale/x1, /tmp/graft_scale/x10, 10)
  * Exit code 1 if any per-partition build grows more than FLAT_SLACK x.
  */
object ShjBuildAudit {
  /** (buildDataSize bytes, numOutputRows) of every ShuffledHashJoin in
    * the executed plan, descending through adaptive wrappers and query
    * stages. */
  private def shjBuilds(p: SparkPlan): Seq[(Long, Long)] = p match {
    case a: AdaptiveSparkPlanExec => shjBuilds(a.executedPlan)
    case s: QueryStageExec => shjBuilds(s.plan)
    case j: ShuffledHashJoinExec =>
      Seq((j.metrics.get("buildDataSize").map(_.value).getOrElse(-1L),
        j.metrics.get("numOutputRows").map(_.value).getOrElse(-1L))) ++
        (j.children ++ j.subqueries).flatMap(shjBuilds)
    case other => (other.children ++ other.subqueries).flatMap(shjBuilds)
  }

  // per-partition build may wobble with hash dispersion and row-object
  // overhead; 2x covers that, 10x-class growth is the finding
  private val FLAT_SLACK = 2.0

  def main(args: Array[String]): Unit = {
    val dir1 = args.headOption.getOrElse("/tmp/graft_scale/x1")
    val dirK = args.lift(1).getOrElse("/tmp/graft_scale/x10")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val qids = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
      .getOrElse(Seq("graph_pagerank", "join_skew_salt"))
    // shuffle width from SPARK_GRAFT_CPUS (default 8, scaled k× for the
    // k× corpus); the master keeps every core
    val w1 = GraftSession.cpus(fallback = 8)
    val spark = Audit.session(shuffle = w1, cores = GraftSession.cpus(raw = None))
    val tap = new Audit.PlanTap(spark, shjBuilds)

    /** max build bytes/partition over every SHJ the qid executed. */
    def sweep(dir: String, width: Int): Map[String, Long] = {
      spark.conf.set("spark.sql.shuffle.partitions", width)
      qids.map { q =>
        tap.drain()
        try Registry.byId(q).fn(spark, dir).collect()
        catch { case t: Throwable => println(s"ERR $q $dir ${t.getClass.getSimpleName}") }
        val builds = tap.drain().flatten
        spark.catalog.clearCache()
        val perPart = builds.map(_._1).filter(_ >= 0).map(_ / width)
        println(s"  $q @ $dir width=$width shj_builds=${builds.size} " +
          s"bytes/part=${perPart.sorted.reverse.mkString(",")}")
        q -> (if (perPart.isEmpty) -1L else perPart.max)
      }.toMap
    }

    println(s"== ShjBuildAudit 1x=$dir1 (width $w1) vs ${k}x=$dirK (width ${w1 * k})")
    val at1 = sweep(dir1, w1)
    val atK = sweep(dirK, w1 * k)
    var bad = 0
    qids.foreach { q =>
      val (b1, bK) = (at1.getOrElse(q, -1L), atK.getOrElse(q, -1L))
      if (b1 <= 0 || bK < 0) { println(s"SHJ-MISSING $q (b1=$b1 bK=$bK)"); bad += 1 }
      else {
        val ratio = bK.toDouble / b1
        val verdict =
          if (ratio > k * 1.5) { bad += 1; "SUPERLINEAR" }
          else if (ratio > FLAT_SLACK) { bad += 1; "GROWS-PER-PARTITION" }
          else "FLAT-OK"
        println(f"$verdict $q build bytes/part $b1%d -> $bK%d (x$ratio%.2f at ${k}x data, ${k}x width)")
      }
    }
    spark.stop()
    if (bad > 0) { println(s"$bad SHJ build(s) not flat"); sys.exit(1) }
    else println("all SHJ builds flat per partition at scaled width")
  }
}
