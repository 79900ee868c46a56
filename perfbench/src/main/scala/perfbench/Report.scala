package perfbench

/** Turns a finished run into the JSON result file `run.py` reads:
  * the operations, the end-to-end and per-layer metrics, the output
  * check failures, and (traced runs) the span tree. */
object Report {
  private val Timed = Set("build", "plan", "exec", "pipeline")
  private val RagStages =
    Seq("ingest", "transcribe_align", "dedup_curate", "embed_index", "retrieve")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The pipeline stage a job of one `RagPipeline.run` belongs to: the
    * stage whose output its root SQL execution writes (or whose method
    * is on its call stack); a job that names none belongs to the stage
    * after the last one seen, since the stages run in order. */
  private def ragStage(j: JobRec, last: Option[String]): String = {
    val s = j.site
    if (s.contains("/retrieval_demo")) "retrieve"
    else if (s.contains("/index_meta") || s.contains("/index,")) "embed_index"
    else if (s.contains("/dialogues")) "transcribe_align"
    else if (s.contains("/state_next") || s.contains("RagPipeline$.ingest")) "ingest"
    else last match {
      case None => "ingest"
      case Some("ingest") => "transcribe_align"
      case Some("transcribe_align") => "dedup_curate"
      case Some("embed_index") => "retrieve"
      case Some(other) => other
    }
  }

  /** Per-stage (seconds, jobs, task CPU seconds) over the polls. A
    * stage's time runs from the end of the previous stage's last job
    * to the end of its own, so the five add up to the poll. */
  private def ragStages(ops: Seq[Op], jobs: Seq[JobRec]): Map[String, (Double, Int, Double)] = {
    val acc = scala.collection.mutable.Map(RagStages.map(_ -> (0.0, 0, 0.0)): _*)
    ops.foreach { op =>
      val mine = jobs.filter(j => j.op == op.tag && j.phase == "pipeline").sortBy(_.id)
      var last: Option[String] = None
      val staged = mine.map { j => val st = ragStage(j, last); last = Some(st); st -> j }
      var prevEnd = op.startMs
      RagStages.zipWithIndex.foreach { case (st, i) =>
        val js = staged.collect { case (`st`, j) => j }
        val end =
          if (i == RagStages.size - 1) op.endMs
          else (js.map(_.endMs) :+ prevEnd).max
        val (s, n, c) = acc(st)
        acc(st) = (s + (end - prevEnd) / 1000.0, n + js.size, c + js.map(_.cpuNs).sum / 1e9)
        prevEnd = math.max(prevEnd, end)
      }
    }
    acc.toMap
  }

  def json(h: Harness): String = {
    val rag = h.workloadName == "rag_poll"
    val ops = h.allOps
    val lj = h.jobs.filter(j => Timed(j.phase))
    // warm operations: the passes after the cold one, or the polls that
    // land documents (not the cold run, nor the final poll landing none)
    val warm = ops.filter(o => if (rag) o.pass == 1 else o.pass >= 1)
    val cold = ops.filter(_.pass == 0)
    val failures = ops.filterNot(_.ok).map(o => s"${o.name}: ${o.error}") ++
      ops.filter(_.check.nonEmpty).map(o => s"${o.name}: ${o.check}") ++
      h.errors
    val wall = ops.map(_.wall).sum
    val e2e = Seq(
      "wall_s" -> wall,
      "op_p50_s" -> quantile(warm.map(_.wall), 0.5),
      "op_p90_s" -> quantile(warm.map(_.wall), 0.9),
      "cold_run_s" -> cold.map(_.wall).sum,
      "cpu_s" -> ops.map(_.cpu).sum,
      "jobs" -> lj.size.toDouble,
      "ops" -> ops.size.toDouble)

    val schema = lj.filter(_.schemaInference)
    val schemaS = schema.map(_.wallMs).sum / 1000.0
    val buildSchemaS = schema.filter(_.phase == "build").map(_.wallMs).sum / 1000.0
    val taskCpu = lj.map(_.cpuNs).sum / 1e9
    val stages = lj.map(_.stages).sum
    val tasks = lj.map(_.tasks).sum
    val written = lj.map(_.written).sum
    val stageMetrics = if (rag) ragStages(ops, lj) else Map.empty[String, (Double, Int, Double)]
    val mb = 1e6
    val layers = Seq(
      "Tables.schema_jobs" -> schema.size.toDouble,
      "Tables.schema_s" -> schemaS,
      // self time: what the query closures spend outside schema
      // inference, memo builds and streaming micro-batches
      "operators.build_s" -> (ops.map(_.build).sum - buildSchemaS - ops.map(_.memoS).sum -
        ops.map(_.batchS).sum),
      "operators.build_jobs" -> lj.count(j => j.phase == "build" && !j.schemaInference).toDouble,
      "plans.plan_s" -> ops.map(_.plan).sum,
      "exec.exec_s" -> (if (rag) lj.map(_.wallMs).sum / 1000.0 else ops.map(_.exec).sum),
      "exec.rows" -> ops.filter(_.rows >= 0).map(_.rows).sum.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.toDouble,
      "exec.task_cpu_s" -> taskCpu,
      "exec.gc_s" -> lj.map(_.gcMs).sum / 1000.0,
      "exec.shuffle_read_mb" -> lj.map(_.shuffleRead).sum / mb,
      "exec.shuffle_write_mb" -> lj.map(_.shuffleWrite).sum / mb,
      "exec.spill_mb" -> lj.map(_.spill).sum / mb,
      "exec.ms_per_job" -> (if (lj.isEmpty) 0.0 else lj.map(_.wallMs).sum.toDouble / lj.size),
      "exec.tasks_per_stage" -> (if (stages == 0) 0.0 else tasks.toDouble / stages),
      "exec.cpu_util" -> (if (wall == 0) 0.0 else taskCpu / (wall * 4)),
      "api.Graft.pins_created" -> ops.map(_.pinsCreated).sum.toDouble,
      "api.Graft.pins_freed" -> ops.map(_.pinsFreed).sum.toDouble,
      "api.Graft.pins_live_end" -> h.pinsLiveEnd.toDouble,
      "api.Graft.pin_peak_mb" -> (ops.map(_.pinMb) :+ 0.0).max,
      "api.Graft.memo_builds" -> ops.map(_.memoBuilds).sum.toDouble,
      "api.Graft.memo_build_s" -> ops.map(_.memoS).sum,
      "streaming.batches" -> ops.map(_.batches).sum.toDouble,
      "streaming.batch_s" -> ops.map(_.batchS).sum) ++
      RagStages.flatMap { st =>
        val (s, n, c) = stageMetrics.getOrElse(st, (0.0, 0, 0.0))
        Seq(s"apps.RagPipeline.${st}_s" -> s, s"apps.RagPipeline.${st}_jobs" -> n.toDouble,
          s"apps.RagPipeline.${st}_task_cpu_s" -> c)
      } ++ Seq(
      "apps.RagPipeline.fresh_docs" -> h.ingestedDocs.toDouble,
      "apps.RagPipeline.bytes_written_mb" -> (if (rag) written / mb else 0.0),
      "apps.RagPipeline.write_amp" ->
        (if (rag && h.landedInputBytes > 0) written.toDouble / h.landedInputBytes else 0.0),
      "host.probe_ms" -> quantile(h.probeMs, 0.5))

    val opJson = ops.map { o =>
      val mine = lj.filter(_.op == o.tag)
      obj(Seq("name" -> str(o.name), "pass" -> o.pass.toString,
        "build_s" -> num(o.build), "plan_s" -> num(o.plan), "exec_s" -> num(o.exec),
        "wall_s" -> num(o.wall), "cpu_s" -> num(o.cpu), "ok" -> o.ok.toString,
        "rows" -> o.rows.toString, "hash" -> o.hash.toString,
        "jobs" -> mine.size.toString,
        "build_jobs" -> mine.count(_.phase == "build").toString,
        "schema_jobs" -> mine.count(_.schemaInference).toString,
        "pins" -> o.pinsCreated.toString, "memo_builds" -> o.memoBuilds.toString,
        "stream_batches" -> o.batches.toString,
        "error" -> str(o.error + o.check)))
    }
    // one span per operation; its phases are children (starting where
    // the previous phase ended) and its Spark jobs grandchildren
    val spans = if (!h.isTrace) "[]" else ops.map { o =>
      val mine = lj.filter(_.op == o.tag)
      val phases = if (rag) Seq("pipeline" -> o.exec)
        else Seq("build" -> o.build, "plan" -> o.plan, "exec" -> o.exec)
      val starts = phases.scanLeft(o.startMs.toDouble)(_ + _._2 * 1000)
      val kids = phases.zip(starts).map { case ((p, d), start) =>
        val js = mine.filter(_.phase == p).map { j =>
          obj(Seq("span" -> str("job"), "id" -> j.id.toString, "start_ms" -> j.startMs.toString,
            "wall_s" -> num(j.wallMs / 1000.0), "stages" -> j.stages.toString,
            "tasks" -> j.tasks.toString, "task_cpu_s" -> num(j.cpuNs / 1e9),
            "schema_inference" -> j.schemaInference.toString))
        }
        obj(Seq("span" -> str(p), "start_ms" -> num(math.rint(start)), "wall_s" -> num(d),
          "children" -> js.mkString("[", ", ", "]")))
      }
      obj(Seq("span" -> str("op"), "name" -> str(o.name), "pass" -> o.pass.toString,
        "start_ms" -> o.startMs.toString, "wall_s" -> num(o.wall), "rows" -> o.rows.toString,
        "children" -> kids.mkString("[", ", ", "]")))
    }.mkString("[\n", ",\n", "\n]")
    obj(Seq(
      "ready_ms" -> h.ready.toString,
      "setup_marks_ms" -> obj(h.setupMarks.map { case (k, v) => k -> v.toString }),
      "attempted" -> ops.size.toString,
      "failed" -> ops.count(o => !o.ok || o.check.nonEmpty).toString,
      "failures" -> failures.map(str).mkString("[", ", ", "]"),
      "probe_ms" -> h.probeMs.map(num).mkString("[", ", ", "]"),
      "end_to_end" -> obj(e2e.map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(layers.map { case (k, v) => k -> num(v) }),
      "ops" -> opJson.mkString("[\n", ",\n", "\n]"),
      "spans" -> spans))
  }
}
