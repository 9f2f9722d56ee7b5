package perfbench

import scala.collection.mutable

/** One traced pass turned into a span tree (query → build/execute → SQL
  * execution → job → stage) and per-layer totals.
  *
  * Jobs reach their query through the `perfbench.phase` local property the
  * harness sets; SQL executions through the phase window their start falls
  * in; a job's layer is its SQL execution's call-site layer (see [[Layers]]),
  * or, for a job outside any SQL execution, its own call site's.
  */
final class TraceAgg(val pass: Int, val spans: Seq[Span], val metrics: Seq[(String, Double)],
                     val perQuery: Seq[(String, Map[String, Double])], val jobLayers: Map[String, Int]) {
  def summary: Json.V = Json.obj(
    "pass" -> Json.num(pass),
    "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }: _*),
    "job_layers" -> Json.obj(jobLayers.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }: _*),
    "per_query" -> Json.obj(perQuery.map { case (q, m) =>
      q -> Json.obj(m.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }: _*) }: _*))

  def spansJson: Json.V = Json.obj("pass" -> Json.num(pass), "spans" -> Json.arr(spans.map(s => Json.obj(
    "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "kind" -> Json.str(s.kind),
    "name" -> Json.str(s.name), "layer" -> Json.str(s.layer), "start_ms" -> Json.num(s.startMs),
    "end_ms" -> Json.num(s.endMs), "self_ms" -> Json.num(s.selfMs)))))
}

object TraceAgg {
  private val MB = 1048576.0
  /** Counters compared between the two traced passes for the repeat report. */
  val structural: Seq[String] = Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_records", "broadcast_bytes")

  def build(pass: Int, times: Seq[Harness.QTime], t: Tracer, cores: Int): TraceAgg = t.withLock {
    val epoch = (n: Long) => Harness.toEpochMs(n)
    var nextId = 0L
    def id(): Long = { nextId += 1; nextId }
    val spans = mutable.ArrayBuffer.empty[Span]
    // phase key -> (span id, start, end, query)
    val phases = mutable.LinkedHashMap.empty[String, (Long, Double, Double, String)]
    for (q <- times) {
      val qs = Span(id(), 0L, "query", q.name, "registry", epoch(q.startNs), epoch(q.endNs))
      val b = Span(id(), qs.id, "build", q.name, "registry", epoch(q.startNs), epoch(q.buildEndNs))
      val e = Span(id(), qs.id, "execute", q.name, "registry", epoch(q.buildEndNs), epoch(q.endNs))
      spans ++= Seq(qs, b, e)
      phases(s"${q.pass}/${q.name}/build") = (b.id, b.startMs, b.endMs, q.name)
      phases(s"${q.pass}/${q.name}/execute") = (e.id, e.startMs, e.endMs, q.name)
    }
    def phaseAt(ms: Double) = phases.values.find(p => ms >= p._2 - 1 && ms <= p._3 + 1)

    val sqlSpan = mutable.HashMap.empty[Long, (Span, String)]
    for (s <- t.sqls.values; p <- phaseAt(s.startMs.toDouble)) {
      val sp = Span(id(), p._1, "sql", s"sql-${s.id}", s.layer, s.startMs.toDouble,
        math.max(s.endMs, s.startMs).toDouble)
      spans += sp; sqlSpan(s.id) = (sp, p._4)
    }

    val stageJob = mutable.HashMap.empty[Int, Long]
    for (j <- t.jobs.values.toSeq.sortBy(_.id); s <- j.stageIds) stageJob.getOrElseUpdate(s, j.id)
    val jobInfo = mutable.LinkedHashMap.empty[Long, (Span, String)] // job -> (span, query)
    var unattributed = 0
    // A job tagged with another pass's phase is a late event of that pass.
    for (j <- t.jobs.values if j.phase.forall(phases.contains)) {
      val viaSql = j.sqlId.flatMap(sqlSpan.get)
      val phase = j.phase.flatMap(phases.get).orElse(phaseAt(j.startMs.toDouble))
      val owner = viaSql.map { case (s, q) => (s.id, q) }.orElse(phase.map(p => (p._1, p._4)))
      if (owner.isEmpty) unattributed += 1
      owner.foreach { case (parent, q) =>
        val layer = viaSql.map(_._1.layer).getOrElse(j.fallbackLayer)
        val sp = Span(id(), parent, "job", s"job-${j.id}", layer, j.startMs.toDouble,
          math.max(j.endMs, j.startMs).toDouble)
        spans += sp; jobInfo(j.id) = (sp, q)
      }
    }
    val stageInfo = mutable.LinkedHashMap.empty[Int, (Span, StageAgg, String, String)] // stage -> (span, agg, query, layer)
    for (s <- t.stages.values; jid <- stageJob.get(s.id); (js, q) <- jobInfo.get(jid)) {
      val sp = Span(id(), js.id, "stage", s"stage-${s.id}", "spark", s.submitMs.toDouble,
        math.max(s.endMs, s.submitMs).toDouble)
      spans += sp; stageInfo(s.id) = (sp, t.stageAgg.getOrElse(s.id, new StageAgg), q, js.layer)
    }
    Spans.fillSelf(spans.toSeq)

    val planQuery = t.plans.toSeq.flatMap(p => phaseAt(p.timeMs.toDouble).map(_._4 -> p))
    val plans = planQuery.map(_._2)
    val aggs = stageInfo.values.toSeq
    def sumA(f: StageAgg => Long, sel: ((Span, StageAgg, String, String)) => Boolean = _ => true) =
      aggs.filter(sel).map(x => f(x._2)).sum.toDouble
    val wall = times.map(_.wallS).sum
    val jobsByQuery = jobInfo.values.groupBy(_._2)
    val gap = times.map { q =>
      val ivs = jobsByQuery.getOrElse(q.name, Nil).map(j => (j._1.startMs, j._1.endMs)).toSeq
      math.max(0.0, q.wallS - Spans.covered(ivs, epoch(q.startNs), epoch(q.endNs)) / 1e3)
    }.sum
    val rddQuery = stageInfo.toSeq.flatMap { case (sid, (_, _, q, _)) =>
      t.stages.get(sid).toSeq.flatMap(_.rddIds.map(_ -> q)) }.toMap
    val blocks = t.blocks.toSeq.filter(b => rddQuery.contains(b.rddId))

    val m = mutable.ArrayBuffer.empty[(String, Double)]
    m += "registry.build_s" -> times.map(_.buildS).sum
    m += "registry.execute_s" -> times.map(_.execS).sum
    m += "driver.gap_s" -> gap
    m += "driver.jobs" -> jobInfo.size.toDouble
    m += "driver.sql_execs" -> sqlSpan.size.toDouble
    for (mod <- Layers.modules) {
      val js = jobInfo.values.map(_._1).filter(_.layer == mod)
      m += s"$mod.jobs" -> js.size.toDouble
      m += s"$mod.job_s" -> js.map(s => s.endMs - s.startMs).sum / 1e3
      m += s"$mod.task_s" -> sumA(_.runMs, _._4 == mod) / 1e3
      m += s"$mod.shuffle_write_mb" -> sumA(_.shWriteB, _._4 == mod) / MB
    }
    val graftInv = plans.map(_.graftInv).sum
    m += "plans.analysis_s" -> plans.map(_.analysisMs).sum / 1e3
    m += "plans.optimize_s" -> plans.map(_.optimizeMs).sum / 1e3
    m += "plans.physical_s" -> plans.map(_.physicalMs).sum / 1e3
    m += "plans.graft_rule_s" -> plans.map(_.graftRuleNs).sum / 1e9
    m += "plans.graft_rule_hit_ratio" -> (if (graftInv == 0) 0.0 else plans.map(_.graftEff).sum.toDouble / graftInv)
    val taskS = sumA(_.runMs) / 1e3
    m += "spark.stages" -> aggs.size.toDouble
    m += "spark.tasks" -> sumA(_.tasks)
    m += "spark.task_s" -> taskS
    m += "spark.task_cpu_s" -> sumA(_.cpuNs) / 1e9
    m += "spark.sched_delay_s" -> sumA(_.schedMs) / 1e3
    m += "spark.slot_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0)
    m += "spark.shuffle_read_mb" -> sumA(_.shReadB) / MB
    m += "spark.shuffle_records" -> sumA(_.shRecords)
    m += "spark.fetch_wait_s" -> sumA(_.fetchWaitMs) / 1e3
    m += "spark.spill_mb" -> sumA(_.spillB) / MB
    m += "spark.gc_s" -> times.map(_.gcMs).sum / 1e3
    m += "spark.peak_exec_mem_mb" -> (if (aggs.isEmpty) 0.0 else aggs.map(_._2.peakExecB).max / MB)
    m += "sources.input_mb" -> sumA(_.inB) / MB
    m += "sources.input_rows" -> sumA(_.inRows)
    m += "sources.output_mb" -> sumA(_.outB) / MB
    m += "sources.output_rows" -> sumA(_.outRows)
    m += "spark.broadcasts" -> plans.map(_.broadcasts).sum.toDouble
    m += "spark.broadcast_mb" -> plans.map(_.broadcastB).sum / MB
    m += "cache.stored_mb" -> blocks.map(_.bytes).sum / MB
    m += "cache.blocks" -> blocks.size.toDouble

    val perQuery = times.map { q =>
      val st = aggs.filter(_._3 == q.name)
      val js = jobsByQuery.getOrElse(q.name, Nil)
      q.name -> (Map(
        "wall_s" -> q.wallS, "build_s" -> q.buildS, "execute_s" -> q.execS,
        "jobs" -> js.size.toDouble, "stages" -> st.size.toDouble,
        "tasks" -> st.map(_._2.tasks).sum.toDouble,
        "task_s" -> st.map(_._2.runMs).sum / 1e3,
        "shuffle_write_bytes" -> st.map(_._2.shWriteB).sum.toDouble,
        "shuffle_records" -> st.map(_._2.shRecords).sum.toDouble,
        "broadcast_bytes" -> planQuery.filter(_._1 == q.name).map(_._2.broadcastB).sum.toDouble) ++
        js.groupBy(_._1.layer).map { case (l, v) => s"jobs.$l" -> v.size.toDouble })
    }
    val jobLayers = jobInfo.values.groupBy(_._1.layer).map { case (l, v) => l -> v.size } ++
      (if (unattributed > 0) Map("unattributed" -> unattributed) else Map.empty)
    new TraceAgg(pass, spans.toSeq, m.toSeq, perQuery, jobLayers)
  }

  /** Per-query diff of the structural counters between traced passes;
    * a counter is usable for count-based claims only if it repeats exactly
    * on every query. */
  def repeatReport(ps: Seq[TraceAgg]): Json.V = {
    if (ps.size < 2) return Json.obj()
    val (a, b) = (ps(0).perQuery.toMap, ps(1).perQuery.toMap)
    Json.obj(structural.map { c =>
      val diffs = a.keys.toSeq.sorted.filter(q => a(q).get(c) != b.get(q).flatMap(_.get(c)))
      c -> Json.obj("exact" -> Json.bool(diffs.isEmpty), "differing" -> Json.arr(diffs.map(Json.str)))
    }: _*)
  }
}
