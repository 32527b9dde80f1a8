package graft

import java.util.concurrent.atomic.AtomicBoolean

import graft.streaming.StateStore

/** The shared state-directory protocol's failure paths: sibling writes of a
  * failed batch, concurrent maintainers of different dirs on one session,
  * and debris left in a state dir by crashed writes.
  */
class StateStoreSpec extends SparkSuite {

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("runWrites awaits every write before a failure reaches the caller") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      StateStore.runWrites(Seq(
        () => throw new IllegalStateException("write failed"),
        () => { Thread.sleep(500); siblingDone.set(true) }))
    }
    assert(e.getMessage == "write failed")
    assert(siblingDone.get,
      "the failure escaped while a sibling write was still running")
  }

  test("concurrent maintainers of different dirs run with AQE off and " +
      "restore the session flag") {
    val k = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(k)
    val work = tempDir("graft_mergeconf_race")
    val aqeOnInBody = new AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map(i => new Thread(() =>
      try for (_ <- 0 until 300) StateStore.withLease(s"$work/s$i") {
        if (spark.conf.get(k) != "false") aqeOnInBody.set(true)
      } catch { case t: Throwable => errors.add(t) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"maintainer failed: ${errors.peek()}")
    assert(!aqeOnInBody.get, "a lease-held body ran with AQE on")
    assert(spark.conf.get(k) == before,
      "interleaved maintainers left the session's AQE flag changed")
  }

  test("walkers skip _temporary and .spark-staging debris below the root") {
    import spark.implicits._
    val work = tempDir("graft_debris")
    val state = s"$work/state"
    Seq(1L, 2L).toDF("bmax").write.parquet(s"$state/batch=0")
    // real parquet files left by crashed writes: staging and task-attempt dirs
    val debris = Seq.fill(50)(99L).toDF("bmax")
    debris.write.parquet(s"$state/.spark-staging-x/batch=99")
    debris.write.parquet(s"$state/_temporary/0/task_0/batch=98")
    assert(StateStore.footerRowCount(spark, state) == 2L)
    assert(StateStore.footerMaxLong(spark, state, "bmax") == Some(2L))
    assert(StateStore.batchDirs(state).map(_._1) == Seq(0L))
    assert(StateStore.parquetIfAny(spark, state).map(_.count()) == Some(2L))
    // the per-shard replay guard reads the same footers
    val sharded = s"$work/sharded"
    Seq(3L).toDF("bmax").write.parquet(s"$sharded/shard=0")
    debris.write.parquet(s"$sharded/.spark-staging-x/shard=0")
    assert(StateStore.freshShards(spark, sharded, "shard", Seq(0L), 5L) ==
      Seq(0L), "debris bmax must not mark shard 0 applied")
    // a dir holding nothing but debris holds no data
    val onlyDebris = s"$work/only_debris"
    debris.write.parquet(s"$onlyDebris/.spark-staging-y/batch=1")
    debris.write.parquet(s"$onlyDebris/_temporary/0")
    assert(StateStore.parquetIfAny(spark, onlyDebris).isEmpty)
    assert(StateStore.footerRowCount(spark, onlyDebris) == 0L)
    assert(StateStore.batchDirs(onlyDebris).isEmpty)
    // the root itself may be a retiree
    val retiree = s"$work/_state.old"
    Seq(7L).toDF("bmax").write.parquet(s"$retiree/batch=4")
    assert(StateStore.parquetIfAny(spark, retiree).isDefined)
    assert(StateStore.footerRowCount(spark, retiree) == 1L)
    StateStore.deleteRec(work)
  }
}
