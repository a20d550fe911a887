package graft

import java.time.LocalDate

import graft.etl.Pipeline
import graft.gold.Materializer
import graft.model.ServiceSpec

/** CLI entry mirroring the reference's orchestrator (`main.py:195-228`):
  *
  *   runMain graft.Main --all [--workers N] [--source DIR] [--warehouse DIR]
  *   runMain graft.Main --table NAME [...]
  *   runMain graft.Main --gold [...]           (gold battery, materialize_gold.py)
  *
  * `--table` = EP2 single-table mode (O3); `--all` = EP1 parallel run over
  * the service map (O1) with RAW→GOLD triggers (O2); `--gold` = O4 battery.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    if (!opts.contains("all") && !opts.contains("table") && !opts.contains("gold")) {
      // no implicit default: a typo'd mode flag must not silently launch
      // the full every-table run over the warehouse
      System.err.println("usage: graft.Main (--all | --table NAME | --gold) " +
        "[--workers N] [--source DIR] [--warehouse DIR] [--refresh-anchor YYYY-MM-DD]")
      sys.exit(2)
    }
    val source = opts.getOrElse("source", "/root/testdata/sf0.001")
    val warehouse = opts.getOrElse("warehouse", "/tmp/graft_warehouse")
    val workers = opts.get("workers").map(_.toInt).getOrElse(Session.defaultCores)
    val spark = Session(workers)

    val pipeline = new Pipeline(spark, source, warehouse)
    val refreshAnchor = opts.get("refresh-anchor").map(LocalDate.parse)

    if (opts.contains("gold")) {
      val done = Materializer.materializeAll(spark,
        n => s"$warehouse/raw/$n", n => s"$warehouse/gold/$n")
      println(s"[graft] gold battery: ${done.mkString(", ")}")
    } else if (opts.contains("table")) {
      val name = opts("table")
      val spec = ServiceSpec.serviceMap.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"unknown table $name; known: ${ServiceSpec.serviceMap.map(_.name).mkString(", ")}"))
      val res = pipeline.runTable(spec, refreshAnchor = refreshAnchor)
      println(s"[graft] ${res.table}: ${res.rowsLoaded} rows" +
        res.goldFired.fold("")(g => s", gold -> $g"))
    } else { // --all
      // live dashboard (reference main.py rich.Live): in-place redraw on a
      // TTY, sequential renders on a pipe; per-service file logs land in
      // <warehouse>/logs/etl_<SERVICE>.log
      val board = new graft.etl.StatusBoard(ServiceSpec.serviceMap.map(_.name))
      val results = pipeline.runAll(parallelism = workers, onStatus = board.transition)
      results.toSeq.sortBy(_._1).foreach {
        case (n, scala.util.Success(r)) =>
          println(s"[graft] $n: ${r.rowsLoaded} rows" + r.goldFired.fold("")(g => s", gold -> $g"))
        case (n, scala.util.Failure(e)) =>
          println(s"[graft] $n: FAILED ${e.getMessage}")
      }
      val failed = results.values.count(_.isFailure)
      if (failed > 0) { spark.stop(); sys.exit(1) }
    }
    spark.stop()
  }

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case "--all" :: rest => parse(rest, acc + ("all" -> "true"))
      case "--gold" :: rest => parse(rest, acc + ("gold" -> "true"))
      case flag :: value :: rest if flag.startsWith("--") =>
        parse(rest, acc + (flag.stripPrefix("--") -> value))
      case other :: _ =>
        throw new IllegalArgumentException(s"unexpected argument: $other")
    }
}
