package graft

import java.io.File

import scala.io.Source

/** Structural guard for the entry points: every session comes from the
  * one [[Session]] factory, `src/main` has exactly the four mains
  * `Bench`, `Verify`, `Main` and `Probe`, and no new code writes the
  * shared session's conf. Mains that each built their own session are how
  * the session configs drifted apart: core counts, shuffle partitions and
  * the time zone differed from one main to the next.
  */
class EntryPointsSpec extends SparkSpec {

  private def sources(root: String): Seq[(String, String)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(new File(root)).filter(_.getName.endsWith(".scala")).map { f =>
      val src = Source.fromFile(f, "UTF-8")
      try f.getPath -> src.mkString finally src.close()
    }
  }

  "src/main and src/test" should "build a SparkSession only in the Session factory" in {
    val call = "SparkSession\\s*\\.\\s*builder".r
    val sites = (sources("src/main/scala") ++ sources("src/test/scala")).collect {
      case (path, text) if call.findFirstIn(text).isDefined => path
    }
    sites shouldBe Seq("src/main/scala/graft/Session.scala")
  }

  "src/main" should "have exactly four mains: Bench, Verify, Main and Probe" in {
    val mains = sources("src/main/scala").flatMap { case (path, text) =>
      "def main\\s*\\(".r.findAllIn(text).map(_ => new File(path).getName)
    }
    mains.sorted shouldBe Seq("Bench.scala", "Main.scala", "Probe.scala", "Verify.scala")
  }

  it should "write the shared session's conf only at the two open sites, Sources and Checkpoints" in {
    // Sources.events (nanosAsLong) and Checkpoints.pinLayout (AQE off) are
    // still to be scoped; each fix removes its file from this list
    val write = "conf\\s*\\.\\s*(set|unset)\\s*\\(".r
    val sites = sources("src/main/scala").collect {
      case (path, text) if write.findFirstIn(text).isDefined => path
    }
    sites shouldBe Seq("src/main/scala/graft/io/Checkpoints.scala", "src/main/scala/graft/io/Sources.scala")
  }

  it should "never sleep to wait for something" in {
    // a sleep guesses how long an asynchronous event takes: on a busy
    // host it is too short, on an idle one it is wasted time
    val sleep = "Thread\\s*\\.\\s*sleep\\s*\\(".r
    val sites = sources("src/main/scala").collect {
      case (path, text) if sleep.findFirstIn(text).isDefined => path
    }
    sites shouldBe empty
  }

  it should "start every DataFrame write from Sinks.writer" in {
    // Sinks.writer adds the per-write options that put local files on
    // io.LocalFs, which sets permissions without forking a chmod. The one
    // exception is Bucketing.writeBucketed: saveAsTable stores a write's
    // options as catalog table properties, so they would outlive the write
    val write = "\\.\\s*write\\s*\\.".r
    val comments = "(?s)/\\*.*?\\*/|//[^\\n]*".r
    val sites = sources("src/main/scala").flatMap { case (path, text) =>
      val code = comments.replaceAllIn(text, m => "\n" * m.matched.count(_ == '\n'))
      write.findAllMatchIn(code).map { m =>
        val enclosing = "\\bdef\\s+(\\w+)".r.findAllMatchIn(code.take(m.start)).toSeq.lastOption
        s"${new File(path).getName}:${enclosing.fold("?")(_.group(1))}"
      }
    }
    sites shouldBe Seq("Bucketing.scala:writeBucketed", "Sinks.scala:writer")
  }

  "Session" should "set the UTC time zone itself, with no JVM flag behind it" in {
    sys.props.get("spark.sql.session.timeZone") shouldBe None
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.newSession().conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.sparkContext.master shouldBe "local[4]"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.sparkContext.getConf.get("spark.ui.enabled") shouldBe "false"
  }
}
