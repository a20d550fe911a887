package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, lit, translate}

import graft.io.{Sinks, Sources}

/** The measurement entry point, one subcommand per question:
  *
  * {{{
  * runMain graft.Probe plans <outDir> [query ...]  explain("formatted") → <outDir>/<query>.txt
  * runMain graft.Probe stages [query ...]          per-stage telemetry of each query's bench action
  * runMain graft.Probe stages --warm [table ...]   the same for the shared-table warm builds
  * runMain graft.Probe spill [query ...]           bytes spilled per query, one JSON line
  * runMain graft.Probe scale [k ...] [query ...]   queries timed on the fixture replicated k×
  * }}}
  *
  * Every subcommand reads the fixture from `SPARK_GRAFT_SF_DIR`, runs on
  * one [[Session]] (cores from `SPARK_GRAFT_CPUS`), warmed once, and picks
  * queries by exact name through [[SparkEntry.named]]: an unknown name
  * fails the run before the session starts. No names selects every query
  * (`spill`: the five heaviest; `scale`: [[scaleDefaults]]). `scale`'s
  * leading integers are the scales (default 1 4 16); a scale below 1,
  * above [[MaxScale]] or not an integer prints the usage line. The exit
  * code is 1 when a query threw.
  */
object Probe {

  private type Query = (SparkSession, String) => DataFrame

  /** The fixture directory every measurement main reads. */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** JIT, codegen and parquet footer caches, so the first measured query
    * does not absorb session start-up (~3-4 s on a cold JVM).
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().collect(): Unit

  /** The idle-host-heaviest bench queries (round-5 plan audit ranking). */
  private val spillDefaults = Seq(
    "etl_pipeline_e2e", "text_contamination", "dedup_minhash_lsh", "sim_ann_ivf", "sim_ann_lsh")

  /** One declared query per plan shape whose growth the retired
    * hand-built scaling pipelines measured (PLANS.md "Scaling probe
    * retired" maps each).
    */
  private val scaleDefaults = Seq(
    "agg_pricing_summary", "join_region_revenue", "win_topk_orders", "agg_pareto_customers",
    "graph_pagerank_parts", "graph_pagerank_adaptive", "graph_pagerank_incremental",
    "graph_lpa_rounds", "graph_frozen_walks", "graph_copurchase_customers", "graph_modularity",
    "graph_subtree_rollup", "sim_ann_lsh", "sim_ann_ivf", "sim_pq_adc", "dedup_incremental",
    "text_dedup_incremental", "text_dup_spans", "mining_frequent_triples", "er_jaro_pairs")

  def main(args: Array[String]): Unit = {
    val rest = args.toSeq.drop(1)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // names resolve here, outside the closures: a typo fails before the session starts
    val run: Option[SparkSession => Boolean] = (args.headOption, rest) match {
      case (Some("plans"), out +: names) =>
        val selected = SparkEntry.named(queries, names)
        Some(plans(_, out, selected))
      case (Some("stages"), "--warm" +: labels) =>
        val selected = SparkEntry.named(SharedTables.entries ++ SharedTables.models, labels)
        Some(stageWarm(_, selected))
      case (Some("stages"), names) =>
        val selected = SparkEntry.named(queries, names)
        Some(stages(_, selected))
      case (Some("spill"), names) =>
        val selected = SparkEntry.named(queries, if (names.isEmpty) spillDefaults else names)
        Some(spill(_, selected))
      case (Some("scale"), words) =>
        val (ks, names) = words.span(_.toDoubleOption.isDefined)
        val scales = ks.flatMap(_.toIntOption.filter(k => k >= 1 && k <= MaxScale))
        if (scales.size < ks.size) None
        else {
          val selected = SparkEntry.named(queries, if (names.isEmpty) scaleDefaults else names)
          Some(scale(_, if (scales.isEmpty) Seq(1, 4, 16) else scales.distinct.sorted, selected))
        }
      case _ => None
    }
    if (run.isEmpty) {
      System.err.println("usage: graft.Probe (plans <outDir> [query ...] | stages [--warm] [name ...] " +
        "| spill [query ...] | scale [k ...] [query ...])")
      sys.exit(2)
    }
    val spark = Session()
    val ok = try { warmUp(spark, sfDir); run.get(spark) } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def plans(spark: SparkSession, outDir: String, selected: Seq[(String, Query)]): Boolean = {
    new java.io.File(outDir).mkdirs()
    selected.map { case (name, fn) =>
      try {
        Files.writeString(Paths.get(s"$outDir/$name.txt"),
          fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        true
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}"); false
      }
    }.forall(identity)
  }

  /** Each query runs the bench's [[Bench.action]] twice, after
    * the shared tables are warm; the second run is reported (warm JIT and
    * codegen). Its stages tell scheduling overhead (many small stages)
    * from compute (one hot stage) from shuffle (bytes dominate).
    */
  private def stages(spark: SparkSession, selected: Seq[(String, Query)]): Boolean = {
    SharedTables.warmAll(spark, sfDir)
    val log = new StageLog(spark)
    selected.foreach { case (name, fn) =>
      Bench.action(fn(spark, sfDir)) // warm run, not collected
      // Construction is part of the measurement on purpose: a lazy
      // Checkpoints.pin calls toRdd, and under AQE that materializes every
      // stage BELOW the pin at construction time, exactly as it does inside
      // the bench's timed region. Never construct the frame twice here:
      // each construction re-runs those stages and double-counts them.
      var constructS = 0.0
      val (_, wall, rows) = log.measure {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        constructS = (System.nanoTime() - t0) / 1e9
        Bench.action(df)
      }
      printStages(f"$name: wall $wall%.3f s (construct $constructS%.3f s)", wall, rows)
    }
    true
  }

  /** The warm builds themselves, one at a time so that every stage is
    * attributed to one build.
    */
  private def stageWarm(spark: SparkSession,
      selected: Seq[(String, (SparkSession, String) => Unit)]): Boolean = {
    val log = new StageLog(spark)
    selected.foreach { case (label, build) =>
      val (_, wall, rows) = log.measure(build(spark, sfDir))
      printStages(f"warm $label: wall $wall%.3f s", wall, rows)
    }
    true
  }

  /** Memory headroom: bytes each query spills. Run it under a lowered
    * heap, e.g. `SPARK_DRIVER_MEM=2g`, optionally squeezing the unified
    * memory pool with `-Dspark.memory.fraction=0.2`. Every shuffle, sort
    * and aggregate in these plans is spill-capable, so a query that runs
    * with spill instead of dying shows that no plan step holds
    * corpus-sized state in an unspillable structure. One JSON line:
    * per query seconds, rows, and memory/disk bytes spilled.
    */
  private def spill(spark: SparkSession, selected: Seq[(String, Query)]): Boolean = {
    val log = new StageLog(spark)
    val results = selected.map { case (name, fn) =>
      val (rows, sec, stages) = log.measure {
        try Bench.action(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[spill] $name DIED: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
          -1L
        }
      }
      (name, if (rows < 0) -1.0 else sec, rows, stages.map(_.memSpilled).sum, stages.map(_.diskSpilled).sum)
    }
    val qs = results.map { case (n, sec, rows, mem, disk) =>
      val secStr = String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec))
      s""""$n":{"sec":$secStr,"rows":$rows,"mem_spilled":$mem,"disk_spilled":$disk}"""
    }.mkString("{", ",", "}")
    println(String.format(java.util.Locale.ROOT,
      """{"metric":"spill_probe","heap_bytes":%d,"mem_fraction":"%s","queries":%s,"sf":"%s"}""",
      Long.box(Runtime.getRuntime.maxMemory()),
      spark.sparkContext.getConf.get("spark.memory.fraction", "default"), qs, sfDir))
    results.forall(_._3 >= 0)
  }

  /** Growth of each query with its input: the query runs on the fixture
    * replicated k× ([[replica]], cached under `/tmp/graft_scale/<sf
    * name>/rot/x<k>`) for each scale, [[Bench.action]] twice per scale,
    * after one untimed run. The shared tables are dropped before each scale, so
    * the first run (`cold_sec`) includes the [[graft.io.Materialized]]
    * builds the query reads and the second is served from them; `sec` is
    * the minimum of the two. One JSON line per query holds both seconds
    * and the output rows per scale, with a [[growthExponent]] for each; an
    * `exponent` above [[SuperLinear]] flags a plan that grows faster than
    * its input.
    */
  private def scale(spark: SparkSession, scales: Seq[Int], selected: Seq[(String, Query)]): Boolean = {
    val root = s"/tmp/graft_scale/${new File(sfDir).getName}"
    val dirs = scales.map(replica(spark, sfDir, _, root))
    def fmt(x: Double, digits: Int) = String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(x))
    selected.map { case (name, fn) =>
      val head = s"""{"metric":"scale_probe","query":${Bench.jstr(name)},"sf":${Bench.jstr(sfDir)},""" +
        s""""scales":${scales.mkString("[", ",", "]")}"""
      try {
        // untimed: the query's first run also compiles its plan's code,
        // which would land in the first scale's cold_sec alone
        Bench.action(fn(spark, dirs.head))
        val runs = dirs.map { dir =>
          graft.io.Materialized.clear()
          (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            val n = Bench.action(fn(spark, dir))
            ((System.nanoTime() - t0) / 1e9, n)
          }
        }
        val (secs, rows) = runs.map(_.minBy(_._1)).unzip
        val coldSecs = runs.map(_.head._1)
        def list(xs: Seq[Double]) = xs.map(fmt(_, 3)).mkString("[", ",", "]")
        def exp(xs: Seq[Double]) = growthExponent(scales, xs)
        println(head + s""","sec":${list(secs)},"cold_sec":${list(coldSecs)},""" +
          s""""rows":${rows.mkString("[", ",", "]")},"exponent":${exp(secs).fold("null")(fmt(_, 2))},""" +
          s""""cold_exponent":${exp(coldSecs).fold("null")(fmt(_, 2))},""" +
          s""""super_linear":${exp(secs).exists(_ > SuperLinear)}}""")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[scale] $name failed: ${e.getMessage}")
        println(head + s""","error":${Bench.jstr(String.valueOf(e.getMessage))}}""")
        false
      }
    }.forall(identity)
  }

  /** Growth exponents above this flag a super-linear plan. */
  private val SuperLinear = 1.2

  /** `log(t_max / t_min) / log(k_max / k_min)` over ascending `scales`
    * and their seconds: 1.0 is linear growth, 0 is none. None for a
    * single scale.
    */
  private[graft] def growthExponent(scales: Seq[Int], secs: Seq[Double]): Option[Double] =
    if (scales.size < 2) None
    else Some(math.log(secs.last / secs.head) / math.log(scales.last.toDouble / scales.head))

  /** Offset per replica on every key column; one constant for every
    * table, so each cross-table key equality holds within a replica and
    * never across two.
    */
  private[graft] val KeyOffset = 100000000L

  private val keyColumns = Set(
    "l_orderkey", "l_partkey", "o_orderkey", "o_custkey", "c_custkey", "p_partkey",
    "doc_id", "vec_id", "event_id", "user_id")

  /** The small dimensions, copied unchanged into every replica. */
  private val dimensions = Set("nation", "region", "supplier")

  /** The largest scale [[replica]] builds: one letter rotation per
    * replica, and there are 26 distinct rotations of a-z.
    */
  private[graft] val MaxScale = 26

  private val letters = "abcdefghijklmnopqrstuvwxyz"

  /** The name of the rule [[replica]] builds by, the directory its caches
    * live under: a change to the rule needs a new name, so a cache written
    * under an older rule is never read.
    */
  private[graft] val ReplicaRule = "rot"

  /** The fixture `base` replicated `k`× in `root/rot/x<k>`: `base` itself
    * for k = 1. Every other table holds k replicas of the fixture's rows;
    * replica r offsets the key columns by `r × KeyOffset` in their own
    * type and rotates the letters of `p_name` by r (a → the r-th letter
    * after it), so the name vocabulary grows with the entities. A letter
    * substitution applied to both names leaves their Jaro-Winkler score
    * unchanged, so the pairs within each replica are the fixture's. A
    * table counts as cached only when its `_SUCCESS` marker exists, so
    * an interrupted write is rebuilt, not served.
    */
  private[graft] def replica(spark: SparkSession, base: String, k: Int, root: String): String =
    if (k == 1) base
    else {
      require(k >= 1 && k <= MaxScale, s"scale $k is outside 1..$MaxScale")
      val dir = s"$root/$ReplicaRule/x$k"
      Sources.tableNames.filterNot(t => new File(s"$dir/$t.parquet/_SUCCESS").exists()).foreach { t =>
        val df = Sources.table(spark, base, t)
        val out = if (dimensions(t)) df else (0 until k).map(replicaOf(df, _)).reduce(_ union _)
        Sinks.writer(out).mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      dir
    }

  private def replicaOf(df: DataFrame, r: Int): DataFrame = df.select(df.schema.fields.toSeq.map { f =>
    val c = col(f.name)
    if (keyColumns(f.name)) (c + lit(r * KeyOffset)).cast(f.dataType).as(f.name)
    else if (f.name == "p_name" && r > 0)
      translate(c, letters, letters.drop(r) + letters.take(r)).as(f.name)
    else c
  }: _*)

  private def printStages(header: String, wall: Double, rows: Seq[StageRow]): Unit = {
    println(s"== $header, ${rows.size} stages ==")
    rows.sortBy(-_.wallMs).take(25).foreach { r =>
      println(f"  job ${r.jobId}%3d stage ${r.stageId}%4d wall ${r.wallMs}%6d ms " +
        f"run ${r.runMs}%7d ms cpu ${r.cpuMs}%7d ms tasks ${r.tasks}%4d " +
        f"shR ${r.shRead / 1024}%8d KiB shW ${r.shWrite / 1024}%8d KiB " +
        f"in ${r.input / 1024}%8d KiB  [${r.rdds}%s]")
    }
    println(f"  jobs=${rows.map(_.jobId).distinct.size} stages=${rows.size} " +
      f"stage-wall-sum ${rows.map(_.wallMs).sum / 1000.0}%.3f s vs wall $wall%.3f s")
  }

  /** One completed stage: Spark's aggregate of its tasks' metrics. */
  private final case class StageRow(
      jobId: Int, stageId: Int, wallMs: Long, runMs: Long, cpuMs: Long, tasks: Int,
      shRead: Long, shWrite: Long, input: Long, memSpilled: Long, diskSpilled: Long,
      rdds: String)

  /** Records the stages that complete inside [[measure]]. */
  private final class StageLog(spark: SparkSession) extends SparkListener {
    private val rows = new ConcurrentLinkedQueue[StageRow]()
    private val stageToJob = new ConcurrentHashMap[Int, Int]()
    @volatile private var collecting = false
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(js: SparkListenerJobStart): Unit =
      js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (collecting) {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        rows.add(StageRow(
          stageToJob.getOrDefault(si.stageId, -1), si.stageId, wall,
          m.executorRunTime, m.executorCpuTime / 1000000, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.memoryBytesSpilled, m.diskBytesSpilled,
          si.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString(">").take(120)))
      }

    /** `body`'s result, its wall seconds, and the stages it ran. */
    def measure[T](body: => T): (T, Double, Seq[StageRow]) = {
      rows.clear(); collecting = true
      val t0 = System.nanoTime()
      val result = body
      val wall = (System.nanoTime() - t0) / 1e9
      Session.drainListeners(spark.sparkContext) // every stage of body has been recorded
      collecting = false
      (result, wall, rows.asScala.toSeq)
    }
  }
}
