package graft

import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.graft.Meter

/** [[Meter]] counts on a job whose shape is known: a 4-partition map
  * stage feeding a 2-partition reduce stage. */
class MeterSpec extends SparkSpec {

  test("a two-stage job: 1 job, 2 stages, 6 tasks, shuffle bytes " +
    "written equal bytes read") {
    val sc = spark.sparkContext
    val (r, m) = Meter(sc) {
      sc.parallelize(1 to 100, 4).map(x => (x % 3, 1))
        .reduceByKey(_ + _, 2).collect()
    }
    assert(r.toMap == Map(0 -> 33, 1 -> 34, 2 -> 33))
    assert(m.jobs == 1 && m.stages.size == 2 && m.tasks == 6, m.summary)
    assert(m.shuffleWriteBytes > 0, m.summary)
    assert(m.shuffleWriteBytes == m.shuffleReadBytes, m.summary)
    assert(m.stageLines.size == 2)
  }

  test("a job another thread starts during the block is not counted, " +
    "and the caller's job group is restored") {
    val sc = spark.sparkContext
    val go = new CountDownLatch(1)
    // created before the block, so it does not inherit the meter's group
    val other = new Thread(() => {
      go.await(); sc.parallelize(1 to 10, 3).count(); ()
    })
    other.start()
    sc.setJobGroup("outer", "outer")
    try {
      val (n, m) = Meter(sc) {
        go.countDown()
        other.join()
        sc.parallelize(1 to 10, 2).count()
      }
      assert(n == 10)
      assert(m.jobs == 1 && m.stages.size == 1 && m.tasks == 2, m.summary)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "outer")
    } finally sc.clearJobGroup()
  }

  test("anyThread counts a job that another thread starts during the " +
    "block") {
    val sc = spark.sparkContext
    val (n, m) = Meter.anyThread(sc) {
      val other = new Thread(() => { sc.parallelize(1 to 10, 3).count(); () })
      other.start(); other.join()
      sc.parallelize(1 to 10, 2).count()
    }
    assert(n == 10)
    assert(m.jobs == 2 && m.stages.size == 2 && m.tasks == 5, m.summary)
  }

  test("under AQE a lazy localCheckpoint runs its shuffle stages at " +
    "call time; only the last stage waits for the first action") {
    val sc = spark.sparkContext
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val counts = spark.range(0, 100, 1, 4)
      .groupBy((org.apache.spark.sql.functions.col("id") % 3).as("k"))
      .count()
    val (ck, atCall) = Meter(sc)(counts.localCheckpoint(eager = false))
    assert(atCall.jobs >= 1, atCall.summary)
    assert(atCall.shuffleWriteBytes > 0, atCall.summary)
    val (n, atAction) = Meter(sc)(ck.collect().length)
    assert(n == 3)
    assert(atAction.jobs == 1 && atAction.shuffleWriteBytes == 0,
      atAction.summary)
  }
}
