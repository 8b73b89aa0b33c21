package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

/** [[QueryRecord]] charges a block exactly the work its thread ran. */
class QueryRecordSpec extends SparkSpec {

  private def noop(key: String): Unit =
    SparkEntry.queries(key)(spark, sfDir).write.format("noop").mode("overwrite").save()

  test("a q_select_all run records its jobs, tasks, task time and idle share") {
    noop("q_select_all")
    val (_, r) = QueryRecord.of(spark)(noop("q_select_all"))
    assert(r.jobs >= 1 && r.tasks >= 1 && r.stages.nonEmpty, r)
    assert(r.tasksec > 0, r)
    assert(r.stages.map(_.tasks).sum == r.tasks, r)
    assert(r.idleShare >= 0 && r.idleShare <= 1, r)
  }

  test("a job run by another thread during the block is not charged to it") {
    val go = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    // started before the block, so it does not inherit the block's tag
    val other = new Thread(() => {
      go.await()
      spark.range(100).collect()
      done.countDown()
    })
    other.start()
    val (_, r) = QueryRecord.of(spark) {
      go.countDown()
      assert(done.await(60, TimeUnit.SECONDS))
    }
    other.join()
    assert(r.jobs == 0 && r.tasks == 0, r)
    val (_, own) = QueryRecord.of(spark)(spark.range(100).collect())
    assert(own.jobs == 1, own)
  }

  test("an Arms.collectBounded call in the block records its ArmDecision, in every open block") {
    val ((rows, inner), outer) = QueryRecord.of(spark)(QueryRecord.of(spark)(
      Arms.collectBounded("spec.record", spark.range(5).toDF(), 10L)))
    assert(rows.map(_.length) == Some(5))
    assert(inner.arms == Seq(ArmDecision("spec.record", "driver", 5, 10, "rows")))
    assert(inner.jobs >= 1, inner)
    assert(outer.arms == inner.arms && outer.jobs == inner.jobs, outer)
  }
}
