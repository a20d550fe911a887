package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, to_date}

import graft.{SharedTables, SparkEntry}
import graft.io.Sources
import graft.model.ServiceSpec
import graft.model.ServiceSpec.DateRange
import graft.transform.Normalize

/** One measured unit: a backfill, a refresh step, or a pass over the query
  * sample.
  */
final case class UnitRec(
    index: Int,
    traced: Boolean,
    start: Double,
    end: Double,
    opSeconds: Seq[Double],
    rows: Long,
    files: Long,
    bytes: Long,
    sourceBytes: Double,
    reads: Seq[Double],
) {
  def wall: Double = (end - start) / 1000.0
}

/** One operation the run attempted (a table load, a query, a read) and
  * whether it and the checks on its output succeeded.
  */
final case class Op(unit: Int, kind: String, name: String, ok: Boolean, reason: String)

/** Benchmark harness entry point, one workload per JVM:
  *
  *   graftbench.Main --workload (etl_backfill|etl_refresh|query_mix) --seed N
  *     --seconds S --trace (0|1) --data DIR --work DIR --out FILE [--budget S]
  *
  * Writes the run record (inputs, environment, per-unit timings, metrics,
  * operations and their checks, session-conf diff) to `--out`, and the
  * spans of a traced run next to it.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val dataDir = new File(o("data")).getAbsolutePath
    val work = new File(o("work")).getAbsolutePath
    val budget = o.get("budget").map(_.toDouble).getOrElse(120.0)
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceJvm(): Double = (System.currentTimeMillis() - jvmStart) / 1000.0
    require(Set("etl_backfill", "etl_refresh", "query_mix").contains(workload), s"unknown workload $workload")

    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = sinceJvm()
    val confStart = spark.conf.getAll

    val trace = new Trace(spark, s"$workload-$seed-${if (traced) "traced" else "plain"}")
    val inputs = Inputs.generate(seed, SparkEntry.queries.keys, withSample = workload == "query_mix")
    val timeout = 60.seconds

    // host-speed canary: a fixed CPU-bound aggregate on every core
    val canary = {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val t0 = System.nanoTime()
      spark.range(20000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }

    val units = mutable.ArrayBuffer.empty[UnitRec]
    val ops = mutable.ArrayBuffer.empty[Op]
    val setupSeconds = mutable.ArrayBuffer.empty[Double]
    val sourceChecks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val hashSeconds = mutable.ArrayBuffer.empty[Double]
    var error: Option[String] = None

    def timeS[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def log(msg: String): Unit = System.err.println(f"[graftbench] ${sinceJvm()}%.1f s: $msg")

    /** Units until `seconds` of measuring have passed, and at least
      * `minUnits`. A traced run measures three units, untraced, traced,
      * untraced, so the traced unit's wall minus the untraced units' is the
      * tracing overhead.
      */
    def loop(minUnits: Int)(body: (Int, Boolean) => UnitRec): Unit = {
      val t0 = System.nanoTime()
      val least = if (traced) 3 else minUnits
      var i = 0
      while (error.isEmpty && (i < least ||
        (!traced && (System.nanoTime() - t0) / 1e9 < seconds && sinceJvm() < budget))) {
        val tracedUnit = traced && i % 2 == 1
        if (tracedUnit) trace.start()
        try units += trace.span(s"unit[$i]")(body(i, tracedUnit))
        finally if (tracedUnit) trace.stop()
        log(f"unit $i done, wall ${units.last.wall}%.2f s")
        i += 1
      }
    }

    def deleteRec(f: File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
      f.delete(); ()
    }

    def etlWorkload(refresh: Boolean): Unit = {
      val etl = new Etl(spark, dataDir, trace, cores, timeout)
      try {
        def recordLoadOps(i: Int, load: Load, failures: Seq[(String, String)],
            windows: Map[String, DateRange]): Unit = {
          val bad = failures.groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).mkString("; ") }
          load.results.keys.toSeq.sorted.foreach { t =>
            ops += Op(i, "table", t, !bad.contains(t), bad.getOrElse(t, ""))
            load.results(t).foreach { r =>
              val w = ServiceSpec.serviceMap.find(_.name == t).flatMap(_.filterField)
                .map(_ => windows(etl.domainOf(t)))
              sourceChecks += Map("unit" -> i, "table" -> t, "raw_rows" -> r.rowsLoaded,
                "from" -> w.map(_.start.toString), "to" -> w.map(_.end.toString))
            }
          }
        }

        if (!refresh) {
          // set-up: the session, then a short warm-up load into a scratch
          // warehouse, so every timed load runs on a warm JVM
          val (_, warm) = timeS {
            val wh = s"$work/wh-warmup"
            val l = etl.load(wh, inputs.warmup)
            l.results.collect { case (t, Failure(e)) =>
              ops += Op(-1, "table", t, ok = false, s"warm-up load failed: ${e.getMessage}")
            }
            deleteRec(new File(wh))
          }
          setupSeconds += sessionS + warm
          log(f"set-up done in $warm%.1f s")
          loop(1) { (i, tracedUnit) =>
            val wh = s"$work/wh-$i"
            val load = etl.load(wh, inputs.backfill)
            val failures = etl.checkLoad(wh, load)
            recordLoadOps(i, load, failures, inputs.backfill)
            val rows = etl.rowsWritten(wh, load, None)
            val (files, bytes) = etl.storage(wh)
            val src = etl.sourceBytesRead(load, t => load.results(t).map(_.rowsLoaded).getOrElse(0L))
            val reads = if (i > 0) Seq.empty else etl.goldReads(wh, inputs.backfillReads)
            ops ++= reads.indices.map(k => Op(i, "read", inputs.backfillReads(k).table, ok = true, ""))
            deleteRec(new File(wh))
            UnitRec(i, tracedUnit, load.start, load.end, load.tableSeconds.values.toSeq,
              rows, files, bytes, src, reads)
          }
        } else {
          // set-up: the session, then a backfill of the base windows that
          // the daily refreshes then re-load part of
          val wh = s"$work/wh"
          val (base, baseS) = timeS(etl.load(wh, inputs.base))
          setupSeconds += sessionS + baseS
          log(f"base load done in $baseS%.1f s")
          val baseFailures = etl.checkLoad(wh, base)
          recordLoadOps(-1, base, baseFailures, inputs.base)
          val hashed = etl.incremental.map(_.name)
          val baseline = etl.contentHashes(wh, hashed)
          val anchorsUsed = mutable.ArrayBuffer.empty[Map[String, String]]
          extra("anchors") = anchorsUsed
          loop(1) { (i, tracedUnit) =>
            val anchors = inputs.anchors(i % inputs.anchors.size)
            val windows = etl.refreshWindows(anchors)
            val load = etl.load(wh, windows)
            val (hashes, hs) = timeS(etl.contentHashes(wh, hashed))
            hashSeconds += hs
            val idem = hashed.filter(t => hashes(t).isEmpty || hashes(t) != baseline(t)).map { t =>
              t -> s"raw content hash changed by the refresh: ${baseline(t)} -> ${hashes(t)}"
            }
            val failures = etl.checkLoad(wh, load) ++ idem
            recordLoadOps(i, load, failures, inputs.base)
            val rows = etl.rowsWritten(wh, load, Some(windows))
            val (files, bytes) = etl.storage(wh)
            val src = etl.sourceBytesRead(load, t => hashes.get(t).flatten.map(_._1)
              .getOrElse(load.results(t).map(_.rowsLoaded).getOrElse(0L)))
            val reads = if (i > 0) Seq.empty else etl.goldReads(wh, inputs.refreshReads)
            ops ++= reads.indices.map(k => Op(i, "read", inputs.refreshReads(k).table, ok = true, ""))
            anchorsUsed += anchors.map { case (d, a) => d -> a.toString }
            UnitRec(i, tracedUnit, load.start, load.end, load.tableSeconds.values.toSeq,
              rows, files, bytes, src, reads)
          }
        }
        if (traced) {
          val (scan, norm) = sourceProbe(if (refresh) inputs.base else inputs.backfill, etl.domainOf)
          layer("sources.scan_s") = scan
          layer("normalize.s") = norm
        }
      } finally etl.close()
    }

    /** io.Sources and transform.Normalize in isolation: a `noop` write of
      * every table's source over the window, without and with the
      * normalization (median of three passes each).
      */
    def sourceProbe(windows: Map[String, DateRange], domainOf: String => String): (Double, Double) = {
      def pass(normalize: Boolean): Double = ServiceSpec.serviceMap.map { spec =>
        trace.timed(s"probe.${if (normalize) "normalize" else "sources"}[${spec.name}]") {
          val src = Sources.table(spark, dataDir, spec.name)
          val df = spec.filterField match {
            case Some(f) =>
              val w = windows(domainOf(spec.name))
              val (frame, c) = if (normalize) (Normalize.normalize(src), col(f + "_ts")) else (src, col(f))
              frame.filter(to_date(c).between(lit(w.start.toString), lit(w.end.toString)))
            case None => if (normalize) Normalize.normalize(src) else src
          }
          df.write.format("noop").mode("overwrite").save()
        }
      }.sum
      val scan = Stats.median(Seq.fill(3)(pass(normalize = false)))
      val withNorm = Stats.median(Seq.fill(3)(pass(normalize = true)))
      (scan, withNorm - scan)
    }

    def queryWorkload(): Unit = {
      val qm = new QueryMix(spark, dataDir, trace, timeout)
      try {
        // set-up: the session, then a first, untimed pass over the sample
        // that writes each result for the oracle comparison; it builds the
        // shared tables the sample uses on first touch and warms the JIT.
        // A traced run first builds every shared table and model with
        // `SharedTables.warmAll`, timing each.
        if (traced) {
          val (built, warmS) = timeS(SharedTables.warmAll(spark, dataDir))
          built.foreach { case (label, wall, _) => layer(s"shared.$label.build_s") = wall }
          extra("warm_all_s") = warmS
          log(f"warmAll done in $warmS%.1f s")
        }
        val resultDir = s"$work/results"
        val (results, resultS) = timeS(qm.resultPass(inputs.sample, resultDir))
        setupSeconds += sessionS + resultS
        log(f"result pass done in $resultS%.1f s")
        results.foreach { case (q, r) => ops += Op(-1, "query", q, r.isRight, r.left.getOrElse("")) }
        extra("results") = Map("dir" -> resultDir,
          "oracle" -> inputs.sample.filter(SparkEntry.oracleSql.contains)
            .map(q => q -> SparkEntry.oracleSql(q)).toMap,
          "queries" -> results.collect { case (q, Right(_)) => q })
        val bad = results.collect { case (q, Left(_)) => q }.toSet
        val sample = inputs.sample.filterNot(bad)
        val perFamily = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]
        // the first timed pass still runs warmer than the result pass left
        // it; a median over two passes damps that
        loop(2) { (i, tracedUnit) =>
          val t0 = trace.now()
          val times = Try(qm.timedPass(sample)) match {
            case Success(ts) => ts
            case Failure(e) =>
              error = Some(s"query pass failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
              Seq.empty
          }
          val t1 = trace.now()
          ops ++= times.map(t => Op(i, "query", t.name, ok = true, ""))
          if (tracedUnit) times.groupBy(t => Inputs.family(t.name)).foreach { case (f, ts) =>
            perFamily.getOrElseUpdate(f, mutable.ArrayBuffer.empty) +=
              ((ts.map(_.construct).sum, ts.map(_.execute).sum))
          }
          val reads = if (i > 0) Seq.empty else qm.sourceReads(inputs.sourceReads)
          ops ++= reads.indices.map(k => Op(i, "read", inputs.sourceReads(k).table, ok = true, ""))
          UnitRec(i, tracedUnit, t0, t1, times.map(_.total), 0L, 0L, 0L, 0.0, reads)
        }
        perFamily.foreach { case (f, xs) =>
          layer(s"ops.$f.construct_s") = Stats.mean(xs.map(_._1).toSeq)
          layer(s"ops.$f.execute_s") = Stats.mean(xs.map(_._2).toSeq)
        }
      } finally qm.close()
    }

    Try {
      workload match {
        case "etl_backfill" => etlWorkload(refresh = false)
        case "etl_refresh" => etlWorkload(refresh = true)
        case "query_mix" => queryWorkload()
      }
    } match {
      case Failure(e) =>
        error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
      case Success(_) =>
    }

    val confEnd = spark.conf.getAll
    val confDiff = (confStart.keySet ++ confEnd.keySet).toSeq.sorted
      .filter(k => confStart.get(k) != confEnd.get(k))
      .map(k => k -> Map("start" -> confStart.get(k), "end" -> confEnd.get(k))).toMap

    val plain = units.filterNot(_.traced).toSeq
    val tracedUnits = units.filter(_.traced).toSeq
    val isEtl = workload != "query_mix"
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    if (plain.nonEmpty) {
      val opTimes = plain.flatMap(_.opSeconds)
      e2e("setup_s") = Stats.median(setupSeconds.toSeq)
      e2e("wall_s") = Stats.median(plain.map(_.wall))
      e2e("op_p50_s") = Stats.median(opTimes)
      e2e("op_tail_s") =
        if (isEtl) Stats.median(plain.map(u => u.opSeconds.max))
        else Stats.quantile(opTimes, Stats.tailQuantile(opTimes.size))
      e2e("read_p50_s") = Stats.median(plain.flatMap(_.reads))
    }
    if (tracedUnits.nonEmpty) layerMetrics(trace, tracedUnits, plain, cores, isEtl, layer)

    val rssMb = Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
    }.getOrElse(Double.NaN)
    e2e("live_heap_mb") = LiveHeap.mb()

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> traced,
      "error" -> error,
      "env" -> Map(
        "nproc" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "data" -> new File(dataDir).getName,
        "canary_s" -> canary,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "session_start_s" -> sessionS,
        "peak_rss_mb" -> rssMb,
      ),
      "inputs" -> Map(
        "backfill" -> inputs.backfill.map { case (d, w) => d -> s"${w.start}..${w.end}" },
        "warmup" -> inputs.warmup.map { case (d, w) => d -> s"${w.start}..${w.end}" },
        "base" -> inputs.base.map { case (d, w) => d -> s"${w.start}..${w.end}" },
        "sample" -> inputs.sample,
        "excluded" -> Inputs.excluded,
      ),
      "setup_s" -> setupSeconds.toSeq,
      "units" -> units.map(u => Map("index" -> u.index, "traced" -> u.traced, "wall_s" -> u.wall,
        "op_s" -> u.opSeconds, "rows" -> u.rows, "files" -> u.files, "bytes" -> u.bytes,
        "source_bytes" -> u.sourceBytes, "reads_s" -> u.reads)),
      "metrics" -> e2e,
      "layer_metrics" -> layer,
      "ops" -> ops.map(op => Map("unit" -> op.unit, "kind" -> op.kind, "name" -> op.name,
        "ok" -> op.ok, "reason" -> op.reason)),
      "source_checks" -> sourceChecks,
      "conf_diff" -> confDiff,
      "spark_actions" -> trace.actions.asScala.map { case (k, v) => k -> Map("n" -> v(0), "failed" -> v(1)) },
      "hash_check_s" -> hashSeconds.toSeq,
    ) ++ extra
    Files.writeString(Paths.get(o("out")), Json.render(record))
    if (traced) Files.writeString(Paths.get(o("out").stripSuffix(".json") + ".spans.jsonl"), trace.spansJson)
    // a call stuck past its timeout still holds jobs and pool threads:
    // exit without waiting for them
    if (error.isDefined) Runtime.getRuntime.halt(3)
    spark.stop()
  }

  /** Per-layer metrics over the traced units (per-unit means), from the
    * spans and the listener events recorded during them.
    */
  def layerMetrics(trace: Trace, units: Seq[UnitRec], plain: Seq[UnitRec], cores: Int,
      isEtl: Boolean, out: mutable.Map[String, Double]): Unit = {
    val n = units.size.toDouble
    val wall = units.map(_.wall).sum
    val jobs = trace.jobs.values.asScala.toSeq.filter(_.end > 0)
    val execs = trace.execs.values.asScala.toSeq.filter(e => e.start > 0 && e.end > 0)
    def inUnits(t: Double) = units.exists(u => t >= u.start && t <= u.end)
    val uJobs = jobs.filter(j => inUnits(j.start))
    val uExecs = execs.filter(e => inUnits(e.start))
    val jobsOf = uJobs.groupBy(_.exec)

    if (isEtl) {
      val tableSum = units.map(_.opSeconds.sum).sum
      out("pipeline.table_sum_s") = tableSum / n
      out("pipeline.overlap") = tableSum / wall
      // time inside runTable spent outside any SQL execution of its table
      val tableSpans = trace.allSpans.filter(s => s.name.startsWith("pipeline.table[") && inUnits(s.start))
      out("pipeline.self_s") = tableSpans.map { s =>
        val table = s.name.stripPrefix("pipeline.table[").stripSuffix("]")
        val mine = uExecs.filter(e => jobsOf.getOrElse(Some(e.id), Nil).exists(_.table.contains(table)))
        s.dur - Stats.covered(mine.map(e => (e.start, e.end)), s.start, s.end) / 1000.0
      }.sum / n
      out("pipeline.rows_per_s") = Stats.median(units.map(u => u.rows / u.wall))
      out("warehouse.files") = Stats.median(units.map(_.files.toDouble))
      out("warehouse.bytes_per_source_byte") = Stats.median(units.map(u => u.bytes / u.sourceBytes))
    }

    def execStats(prefix: String, layers: Set[String]): Unit = {
      val es = uExecs.filter(e => layers.contains(e.layer))
      val js = es.flatMap(e => jobsOf.getOrElse(Some(e.id), Nil))
      val commit = es.map { e =>
        val mine = jobsOf.getOrElse(Some(e.id), Nil).map(j => (j.start, j.end))
        (e.end - e.start - Stats.covered(mine, e.start, e.end)) / 1000.0
      }.sum
      out(s"$prefix.files") = es.map(_.files).sum / n
      out(s"$prefix.bytes") = es.map(_.bytes).sum / n
      out(s"$prefix.rows") = es.map(_.rows).sum / n
      out(s"$prefix.partitions") = es.map(_.parts).sum / n
      out(s"$prefix.shuffle_bytes") = js.map(_.shuffleWrite).sum / n
      out(s"$prefix.spill_bytes") = js.map(_.spill).sum / n
      out(s"$prefix.commit_s") = commit / n
    }
    def execSeconds(l: String) = uExecs.filter(_.layer == l).map(e => (e.end - e.start) / 1000.0).sum / n
    out("sinks.truncate_s") = execSeconds("sinks.truncate")
    out("sinks.delete_range_append_s") = execSeconds("sinks.delete_range_append")
    out("sinks.empty_check_s") = execSeconds("sinks.empty_check")
    execStats("sinks", Set("sinks.truncate", "sinks.delete_range_append"))
    out("materializer.s") = execSeconds("materializer")
    execStats("materializer", Set("materializer"))

    out("spark.jobs") = uJobs.size / n
    out("spark.stages") = uJobs.map(_.stages).sum / n
    out("spark.tasks") = uJobs.map(_.tasks).sum / n
    out("spark.task_run_s") = uJobs.map(_.taskRunMs).sum / 1000.0 / n
    out("spark.task_cpu_s") = uJobs.map(_.taskCpuNs).sum / 1e9 / n
    out("spark.gc_s") = uJobs.map(_.gcMs).sum / 1000.0 / n
    out("spark.shuffle_write_bytes") = uJobs.map(_.shuffleWrite).sum / n
    out("spark.spill_bytes") = uJobs.map(_.spill).sum / n
    out("spark.core_busy") = uJobs.map(_.taskRunMs).sum / 1000.0 / (wall * cores)
    out("spark.driver_nojob_s") = units.map { u =>
      u.wall - Stats.covered(uJobs.map(j => (j.start, j.end)), u.start, u.end) / 1000.0
    }.sum / n
    out("trace.overhead_s") =
      if (plain.isEmpty) Double.NaN else Stats.median(units.map(_.wall)) - Stats.median(plain.map(_.wall))
  }
}
