package graft.io

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_date}

import graft.SparkSpec
import graft.gold.Materializer

/** Warehouse writes on [[LocalFs]]: they start no `chmod` process, leave
  * every file, `.crc` sidecar and directory with the mode the session's
  * default filesystem gives it, and change the filesystem of no other
  * read or write in the session.
  */
class LocalFsSpec extends SparkSpec {

  /** The `chmod` processes the JVM starts while `body` runs, from a JFR
    * recording of `jdk.ProcessStart`.
    */
  private def chmodStarts(body: => Unit): Int = {
    val rec = new Recording()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala
        .count(e => "(^|/)chmod$".r.findFirstIn(e.getString("command").split(" ").head).isDefined)
    } finally { rec.close(); Files.delete(file) }
  }

  private def orders: DataFrame = Sources.orders(spark, sfDir)

  "Sinks.truncate" should "start no chmod process" in {
    val path = tmpDir("no-chmod") + "/customer"
    chmodStarts(Sinks.truncate(Sources.customer(spark, sfDir), path)) shouldBe 0
    new File(path, "_SUCCESS").exists() shouldBe true
  }

  "Sinks.deleteRangeAppend" should "start no chmod process" in {
    val path = tmpDir("no-chmod") + "/orders"
    chmodStarts(Sinks.deleteRangeAppend(orders, "o_orderdate", path)) shouldBe 0
    new File(path).list().count(_.startsWith("o_orderdate_date=")) should be > 100
  }

  "Materializer.materialize" should "start no chmod process" in {
    val path = tmpDir("no-chmod") + "/gold"
    val spec = Materializer.goldSpecs.find(_.name == "gold_orders_daily").get
    chmodStarts(Materializer.materialize(orders, spec, path)) shouldBe 0
    new File(path).list().count(_.startsWith("o_orderdate_date=")) should be > 100
  }

  /** Relative path (task attempt UUIDs blanked) → `rwxrwxrwx` mode of
    * every file and directory under `root`.
    */
  private def modes(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  "Sinks.writer" should "give every file, sidecar and directory the default filesystem's mode" in {
    val df = orders.withColumn("day", to_date(col("o_orderdate")))
      .filter(col("day") < "1995-03-01").repartition(2, col("day"))
    // Hadoop's default umask (022) and a stricter one: under 027 a writer
    // that set no permissions at all would leave the JVM's 0644 behind
    Seq(Map.empty[String, String], Map("fs.permissions.umask-mode" -> "027")).foreach { umask =>
      withClue(umask) {
        val root = tmpDir("modes")
        // the reference skips the cache too, or the cached instance keeps its own umask
        df.write.options(umask + ("fs.file.impl.disable.cache" -> "true"))
          .partitionBy("day").parquet(s"$root/default")
        Sinks.writer(df).options(umask).partitionBy("day").parquet(s"$root/local")
        val local = modes(s"$root/local")
        local shouldBe modes(s"$root/default")
        local.keySet should contain("_SUCCESS")
        local.keySet should contain("._SUCCESS.crc")
        val parquet = local.filter(_._1.endsWith(".parquet"))
        parquet.size should be > 10
        val (file, dir) = if (umask.isEmpty) ("rw-r--r--", "rwxr-xr-x") else ("rw-r-----", "rwxr-x---")
        parquet.values.toSet shouldBe Set(file)
        local.filter(_._1.endsWith(".parquet.crc")).values.toSet shouldBe Set(file)
        local.filter(e => new File(s"$root/local/${e._1}").isDirectory).values.toSet shouldBe Set(dir)
      }
    }
  }

  it should "leave the session's Hadoop conf and its cached file: filesystem as they were" in {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = FileSystem.get(new URI("file:///"), conf)
    Sinks.truncate(Sources.region(spark, sfDir), tmpDir("per-write") + "/region")
    conf.get("fs.file.impl") shouldBe null
    conf.get("fs.file.impl.disable.cache") shouldBe null
    FileSystem.get(new URI("file:///"), conf).getClass shouldBe before.getClass
    before.getClass should not be classOf[LocalFs]
  }

  "LocalFs" should "map each of the 512 modes to its permissions" in {
    (0 until 512).foreach { mode =>
      val want = "rwxrwxrwx".zipWithIndex.map { case (c, i) => if ((mode & (0x100 >> i)) != 0) c else '-' }
      PosixFilePermissions.toString(LocalFs.bits(mode)) shouldBe want.mkString
    }
  }

  it should "set a sticky bit through Hadoop's own setPermission" in {
    val fs = new LocalFs
    fs.initialize(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = new Path(tmpDir("sticky"), "d")
    fs.mkdirs(dir) shouldBe true
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1750", 8).toShort))
    val perm = fs.getFileStatus(dir).getPermission
    perm.getStickyBit shouldBe true
    perm.toString shouldBe "rwxr-x--T"
  }
}
