package graft

/** `graft.Run`, the run-and-measure path under Bench, Verify and Plans. */
class RunSpec extends SparkSpec {

  test("Run tallies each rep on its own, sweeps persisted RDDs, and catches a failing query") {
    val run = new Run(spark)
    val sc = spark.sparkContext
    val status = sc.statusTracker
    // the independent account of a rep: jobs started since the previous
    // call, and the stages of those jobs that ran tasks (skipped stages run
    // none), as the app status store (a listener on its own bus queue)
    // recorded them
    var lastJob = status.getJobIdsForGroup(null).maxOption.getOrElse(-1)
    def statusWindow(): (Int, Int, Int) = {
      val jobs = status.getJobIdsForGroup(null).filter(_ > lastJob)
      lastJob = (jobs :+ lastJob).max
      val ran = jobs.flatMap(j => status.getJobInfo(j).toSeq.flatMap(_.stageIds)).distinct
        .flatMap(status.getStageInfo).filter(_.numCompletedTasks > 0)
      (jobs.length, ran.length, ran.map(_.numCompletedTasks).sum)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val boom = new IllegalStateException("boom")
    // the failing query sits between the two real ones: the loop must go on
    val reps = Seq("q_pagerank_deep", "boom", "q_wc").map { name =>
      name -> (1 to 3).map { _ =>
        var pinnedInSink = false
        val r =
          if (name == "boom") run(throw boom)(noop)
          else run(SparkEntry.queries(name)(spark, sfDir)) { df =>
            noop(df)
            pinnedInSink = sc.getPersistentRDDs.nonEmpty
          }
        assert(sc.getPersistentRDDs.isEmpty, s"$name left persisted RDDs")
        assert((r.jobs, r.stages, r.tasks) == statusWindow(), s"$name: tally vs status store")
        (r, pinnedInSink)
      }
    }.toMap

    // the sweep is what empties the map: the graph loop's final checkpoint
    // is still pinned when its sink returns
    assert(reps("q_pagerank_deep").forall(_._2))
    for (name <- Seq("q_pagerank_deep", "q_wc")) {
      val rs = reps(name).map(_._1)
      assert(rs.forall(_.error.isEmpty), s"$name: ${rs.flatMap(_.error)}")
      assert(rs.forall(r => r.jobs > 0 && r.stages > 0 && r.tasks > 0), s"$name: $rs")
      assert(rs.forall(r => r.buildS >= 0 && r.planS >= 0 && r.execS >= 0 && r.wallS > 0))
    }
    // q_wc's plan has no cached relation, so its warm reps run the same
    // jobs; a persisting query's count can differ by a job between reps
    // (AQE skips a table-cache stage whose cache a concurrent stage already
    // loaded), which the status-store check above covers rep by rep
    val wc = reps("q_wc").map(r => (r._1.jobs, r._1.stages, r._1.tasks))
    assert(wc(1) == wc(2), s"q_wc reps 2 and 3 differ: $wc")
    assert(reps("q_pagerank_deep")(1)._1.jobs > wc(1)._1)
    assert(reps("boom").forall(r => r._1.error.contains(boom) && r._1.jobs == 0))
  }
}
