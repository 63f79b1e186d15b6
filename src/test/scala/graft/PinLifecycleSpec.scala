package graft

import graft.queries.{Dedup, Det, Similarity}

/** Pin lifecycle: every Det.pin / Det.memo cache entry must be released by
  * Det.releasePins — a long-lived session running the full query sweep must
  * not accumulate dead InMemoryRelations (cache-eviction churn at scale).
  */
class PinLifecycleSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("releasePins drops every retained InMemoryRelation and memo entry") {
    Det.releasePins(spark) // isolate from pins left by other suites
    val cm = spark.sharedState.cacheManager
    assert(cm.isEmpty, "precondition: no cached relations before the sweep")

    // Pin-heavy queries: shared shingle memo + per-query signature pins,
    // shared norm/sketch memos.
    Dedup.queries("q_dedup_minhash")(spark, sfDir).count()
    Similarity.queries("q_knn_lsh")(spark, sfDir).count()
    assert(!cm.isEmpty, "the sweep should have pinned intermediates")

    Det.releasePins(spark)
    assert(cm.isEmpty, "releasePins must drop every pinned relation")
  }

  test("releaseKeyPrefix frees a released memo's checkpoint blocks") {
    Det.releasePins(spark)
    // A fixpoint-style memo: the memoized frame is rebased over an eager
    // localCheckpoint, so its plan is a LogicalRDD wrapping a persisted
    // RDD. memo() also pin()s the frame — the regression this guards is
    // the released memo protecting ITSELF through the pin registry, which
    // left checkpoint blocks resident until releasePins.
    val ckpt = spark.range(1000).toDF("id").localCheckpoint(true)
    // Memoize a transformation over the checkpoint (the fixpoint memos'
    // actual shape) — caching the bare LogicalRDD frame itself trips an
    // InMemoryRelation.withOutput attribute-rebase quirk unrelated to
    // this lifecycle.
    val memo = Det.memo(spark, "test.selfprotect")(ckpt.where("id >= 0"))
    memo.count()
    val rdds = memo.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(rdds.nonEmpty, "precondition: the memo plan wraps a LogicalRDD")
    assert(rdds.forall(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE),
      "precondition: checkpoint RDD is persisted")
    Det.releaseKeyPrefix(spark, "test.selfprotect")
    assert(rdds.forall(_.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "released memo's checkpoint RDD must be unpersisted (self-protect defeated the release)")
    Det.releasePins(spark)
  }

  test("a checkpoint RDD shared between memos survives until its LAST owner is released") {
    Det.releasePins(spark)
    val ckpt = spark.range(500).toDF("id").localCheckpoint(true)
    val a = Det.memo(spark, "test.shared.a")(ckpt.filter("id % 2 = 0"))
    val b = Det.memo(spark, "test.shared.b")(ckpt.filter("id % 2 = 1"))
    a.count(); b.count()
    val rdds = a.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(rdds.nonEmpty)
    Det.releaseKeyPrefix(spark, "test.shared.a")
    assert(rdds.forall(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE),
      "RDD still reachable from a live memo must be protected")
    Det.releaseKeyPrefix(spark, "test.shared.b")
    assert(rdds.forall(_.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "shared RDD must be freed when its last owner is released")
    Det.releasePins(spark)
  }

  test("releaseForDir drops exactly the named dir's memos (others survive)") {
    Det.releasePins(spark)
    var buildsA = 0; var buildsB = 0
    def memoA() = Det.memo(spark, "test.rfd:/d/A") {
      buildsA += 1; spark.range(5).toDF("id")
    }
    def memoB() = Det.memo(spark, "test.rfd:/d/B") {
      buildsB += 1; spark.range(5).toDF("id")
    }
    memoA().count(); memoB().count()
    Det.releaseForDir(spark, "/d/A")
    memoA().count(); memoB().count()
    assert(buildsA == 2, "the mutated dir's memo must rebuild after releaseForDir")
    assert(buildsB == 1, "an unrelated dir's memo must survive releaseForDir")
    Det.releasePins(spark)
  }

  test("pins rebuild (not silently uncached) after release") {
    Det.releasePins(spark)
    val cm = spark.sharedState.cacheManager
    // Re-running after release must re-pin — a memo entry surviving the
    // release would serve an unpersisted DataFrame and recompute its HOF
    // chain once per consumer.
    Dedup.queries("q_dedup_simhash")(spark, sfDir).count()
    assert(!cm.isEmpty, "memoized pins must re-register after release")
    Det.releasePins(spark)
    assert(cm.isEmpty)
  }
}
