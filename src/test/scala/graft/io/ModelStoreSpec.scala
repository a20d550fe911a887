package graft.io

import graft.SparkSpec
import graft.ops.Similarity

/** The train-once / serve-from-table lifecycle: after one session trains
  * and writes a model table, a FRESH session must serve from the table —
  * never retrain — with identical results. The `fail(...)` train thunks
  * prove the read path: ensure* only invokes the thunk when no complete
  * table exists.
  */
class ModelStoreSpec extends SparkSpec {

  private def freshSession = spark.newSession()

  "ModelStore" should "serve the PQ codebook to a fresh session without retraining" in {
    val emb = Sources.embeddings(spark, sfDir)
    val trained = Similarity.trainPqCached(spark, emb, sfDir) // writes on first ever run
    val shape = Similarity.pqShape(8, 16, 8, 2)
    val served = ModelStore.ensurePq(freshSession, sfDir, shape) {
      fail("train ran — the model table should have been served")
    }
    served.map(_._1) shouldBe trained.map(_._1)
    served.zip(trained).foreach { case ((_, a), (_, b)) => a.toSeq shouldBe b.toSeq }
  }

  it should "serve the coarse-quantizer centroids to a fresh session without retraining" in {
    val emb = Sources.embeddings(spark, sfDir)
    val trained = Similarity.quantizerServed(spark, sfDir, emb)
    val served = ModelStore.ensureCentroids(freshSession, sfDir, "quant|seed=label|it=2") {
      fail("train ran — the centroid table should have been served")
    }
    served.map(_._1) shouldBe trained.map(_._1)
    served.zip(trained).foreach { case ((_, a), (_, b)) => a.toSeq shouldBe b.toSeq }
  }

  it should "serve the near-dup groups table to a fresh session without recomputing" in {
    val original = Similarity.dedupEmbeddingGroups(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val s2 = freshSession
    val servedRaw = ModelStore.ensureDf(s2, "groups-emb", sfDir) {
      fail("compute ran — the groups table should have been served")
    }
    servedRaw.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted shouldBe original.sorted
    // and the full serving query in the fresh session returns the same rows
    Similarity.dedupEmbeddingGroups(s2, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe original
  }

  it should "serve an existing row table without starting a Spark job" in {
    import org.apache.spark.sql.functions.lit
    def served = ModelStore.ensureDf(spark, "jobs-probe", sfDir, "v-jobs") {
      spark.range(3).toDF("id").withColumn("x", lit(1))
    }
    served.count() shouldBe 3 // writes the table on the first ever run
    jobsStartedBy { served; () } shouldBe empty
    served.schema.fieldNames.toSeq shouldBe Seq("id", "x")
  }

  it should "key tables apart by shape and source" in {
    val a = ModelStore.dirFor("pq", "/data/x", "pq|m=8|k=16")
    ModelStore.dirFor("pq", "/data/x", "pq|m=8|k=32") should not be a
    ModelStore.dirFor("pq", "/data/y", "pq|m=8|k=16") should not be a
    ModelStore.dirFor("centroids", "/data/x", "pq|m=8|k=16").getParentFile should
      not be a.getParentFile
  }

  it should "list every persisted table in the registry with provenance" in {
    import org.apache.spark.sql.functions.lit
    // guarantee at least one complete table exists
    ModelStore.ensureDf(spark, "reg-probe", sfDir, "v-reg") {
      spark.range(3).toDF("id").withColumn("x", lit(1))
    }.count() shouldBe 3
    val reg = ModelStore.registry(spark)
    reg.columns.toSeq shouldBe Seq(
      "kind", "key", "model_version", "source", "created", "complete", "size_bytes")
    // a recompile re-keys (codeId is part of the key), so older orphans
    // of this kind may coexist — pin the assertion to the CURRENT key
    val key = ModelStore.dirFor("reg-probe", sfDir, "v-reg").getName
    val probe = reg.filter(s"kind = 'reg-probe' AND key = '$key'").collect()
    probe.length shouldBe 1
    probe(0).getAs[String]("model_version") shouldBe "v-reg"
    probe(0).getAs[String]("source") shouldBe sfDir
    probe(0).getAs[Boolean]("complete") shouldBe true
    probe(0).getAs[Long]("size_bytes") should be > 0L
  }

  it should "evict orphaned keys via gc while keeping live ones" in {
    import org.apache.spark.sql.functions.lit
    def mk(shape: String) = ModelStore.ensureDf(spark, "gc-probe", sfDir, shape) {
      spark.range(2).toDF("id").withColumn("x", lit(1))
    }
    mk("v-live").count() shouldBe 2
    mk("v-stale").count() shouldBe 2 // simulates a key orphaned by a shape change
    val liveDir = ModelStore.dirFor("gc-probe", sfDir, "v-live")
    val staleDir = ModelStore.dirFor("gc-probe", sfDir, "v-stale")
    staleDir.exists() shouldBe true

    // scope the sweep to this kind so other suites' live tables survive
    val deleted = ModelStore.gc(Seq(("gc-probe", sfDir, "v-live")), Set("gc-probe"))
    deleted should contain(staleDir.getPath)
    deleted should not contain liveDir.getPath
    liveDir.exists() shouldBe true
    staleDir.exists() shouldBe false
    // live table still serves without recompute
    mk("v-live").count() shouldBe 2
  }

  it should "keep only the newest N generations per (kind, source) via retain" in {
    import org.apache.spark.sql.functions.lit
    def mk(shape: String) = ModelStore.ensureDf(spark, "ret-probe", sfDir, shape) {
      spark.range(3).toDF("id").withColumn("x", lit(1))
    }
    // three generations (distinct shapes stand in for re-keyed retrains)
    Seq("gen-a", "gen-b", "gen-c").foreach(sh => mk(sh).count() shouldBe 3)
    val dirs = Seq("gen-a", "gen-b", "gen-c")
      .map(sh => sh -> ModelStore.dirFor("ret-probe", sfDir, sh)).toMap
    // stagger mtimes so recency is unambiguous (c newest)
    val t0 = System.currentTimeMillis() - 60000
    dirs("gen-a").setLastModified(t0) shouldBe true
    dirs("gen-b").setLastModified(t0 + 10000) shouldBe true
    dirs("gen-c").setLastModified(t0 + 20000) shouldBe true

    // an unattributable occupant (no readable provenance) must survive
    // (mkdirs is idempotent: the dir persists across suite runs)
    val damaged = new java.io.File(dirs("gen-a").getParentFile, "damaged-key")
    damaged.mkdirs()
    damaged.exists() shouldBe true

    val deleted = ModelStore.retain(spark, keepLatest = 1, Set("ret-probe"))
    deleted should contain(dirs("gen-a").getPath)
    deleted should contain(dirs("gen-b").getPath)
    deleted should not contain dirs("gen-c").getPath
    deleted should not contain damaged.getPath
    dirs("gen-c").exists() shouldBe true
    damaged.exists() shouldBe true
    // the survivor still serves without recompute
    ModelStore.ensureDf(spark, "ret-probe", sfDir, "gen-c") {
      fail("compute ran — the retained table should have been served")
    }.count() shouldBe 3
    // idempotent: a second sweep deletes nothing
    ModelStore.retain(spark, keepLatest = 1, Set("ret-probe")) shouldBe empty
    an[IllegalArgumentException] should be thrownBy
      ModelStore.retain(spark, keepLatest = 0, Set("ret-probe"))
  }

  it should "self-heal a damaged occupant instead of wedging" in {
    import org.apache.spark.sql.functions.lit
    val dir = ModelStore.dirFor("heal-probe", sfDir, "v1")
    // idempotence: a healed table from a previous run may occupy the key
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(wipe)
      f.delete(): Unit
    }
    wipe(dir)
    // plant a damaged table: marker present, zero data files
    dir.mkdirs()
    new java.io.File(dir, "_SUCCESS").createNewFile() shouldBe true
    val served = ModelStore.ensureDf(spark, "heal-probe", sfDir, "v1") {
      spark.range(4).toDF("id").withColumn("x", lit(1))
    }
    served.count() shouldBe 4 // recomputed over the damaged occupant
    // and now the table is complete: a fresh call serves without compute
    ModelStore.ensureDf(spark, "heal-probe", sfDir, "v1") {
      fail("compute ran — the healed table should have been served")
    }.count() shouldBe 4
  }
}
