package graftbench

import graft.operators.{Cohort, CohortQuery}

/** The operators layer, measured in-process: served bodies are replayed
  * through the handlers' own public calls, timed three ways — until
  * the call returns a DataFrame (driver-side construction, including
  * any eager Spark jobs it runs), until the physical plan is built
  * (Catalyst), and through execution.
  */
object Operators {

  /** Replayed bodies per class: three cohort bodies, whose medians the
    * benchmark's manifest lists, and one of each other class.
    */
  val perClass = Map("cohort" -> 3).withDefaultValue(1)
  val replayed = Seq("cohort", "atom_counts", "stats")

  def replay(ctx: Ctx, timed: Seq[Gen.Request]): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val picks = replayed.flatMap(c => timed.filter(_.cls == c).take(perClass(c)))
    def build(r: Gen.Request) = r.cls match {
      case "cohort" => CohortQuery.count(spark, ctx.dataDir, r.body.get)
      case "atom_counts" => CohortQuery.atomCounts(spark, ctx.dataDir, r.body.get)
      case "stats" =>
        val p = Gen.params(r.path)
        Cohort.itemStats(graft.Tables.lineitem(spark, ctx.dataDir), p("field"), p.get("by"))
    }
    val sc = spark.sparkContext
    val (timings, jobs, _, _, _) = Harness.tracedPhase(ctx, "phase.replay") {
      picks.zipWithIndex.map { case (r, i) =>
        ctx.tracer.span(s"replay.${r.cls}") { parent =>
          sc.setJobGroup(s"replay-construct-$i", r.cls)
          val t0 = System.nanoTime()
          val df = build(r)
          val t1 = System.nanoTime()
          sc.setJobGroup(s"replay-exec-$i", r.cls)
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          df.collect()
          val t3 = System.nanoTime()
          sc.clearJobGroup()
          Seq(("construct", t0, t1), ("plan", t1, t2), ("execute", t2, t3)).foreach { case (n, a, b) =>
            ctx.tracer.add(Span(ctx.tracer.newId(), parent, n, a, b))
          }
          (r.cls, i, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
        }
      }
    }
    replayed.flatMap { c =>
      val mine = timings.filter(_._1 == c)
      val constructJobs = mine.map(m => jobs.count(_.group == s"replay-construct-${m._2}")).sum.toDouble
      Seq((s"operators.construct_s.$c", Stats.median(mine.map(_._3)), "s"),
        (s"operators.construct_jobs.$c", constructJobs / mine.length, "count"),
        (s"catalyst.plan_s.$c", Stats.median(mine.map(_._4)), "s"))
    }
  }
}
