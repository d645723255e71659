package graft.core

import graft.SparkSpec
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[Governor]] on its own: a kill stops a request between its Spark jobs
  * deterministically, and leaves no governance state behind. */
class GovernorSpec extends SparkSpec {

  test("cancellation storm: ten requests parked between two Spark jobs " +
    "and killed all end in QueryKilled, run no job after the kill, and " +
    "leave the killed map and the span groups empty") {
    val n = 10
    val gov = new Governor(spark, "TEST", "graft-storm-q")
    val started = new ConcurrentHashMap[String, AtomicInteger]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => started.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    }
    def job(): Long = spark.sparkContext.parallelize(1 to 2, 1).count()
    // every listener event posted so far has been delivered once a job
    // started afterwards is seen (one ordered listener queue); the group is
    // outside the governor's `graft-` span bookkeeping
    def flush(group: String): Unit = {
      spark.sparkContext.setJobGroup(group, group)
      try job() finally spark.sparkContext.clearJobGroup()
      val until = System.nanoTime() + 30L * 1000000000L
      while (!started.containsKey(group) && System.nanoTime() < until)
        Thread.sleep(10)
      assert(started.containsKey(group), s"listener never saw $group")
    }
    gov.start()
    spark.sparkContext.addSparkListener(listener)
    try {
      val parked = new CountDownLatch(n)
      val release = new CountDownLatch(1)
      val handles = Seq.fill(n)(gov.handle())
      val outcomes = new Array[Any](n)
      val threads = handles.zipWithIndex.map { case (h, i) =>
        val t = new Thread(() => outcomes(i) =
          try gov.run(h, "storm") {
            job(); parked.countDown(); release.await(); job(); "finished"
          } catch { case e: Throwable => e }, s"storm-$i")
        t.start(); t
      }
      assert(parked.await(60, TimeUnit.SECONDS), "bodies never parked")
      flush("storm-flush-parked")
      assert(handles.forall(h => started.get(h.group).get == 1))
      handles.foreach(_.kill("query cancelled"))
      release.countDown()
      threads.foreach(_.join(60000))
      assert(threads.forall(!_.isAlive), "killed bodies did not return")
      flush("storm-flush-done")
      outcomes.foreach(o => assert(o == QueryKilled("query cancelled"), o))
      handles.foreach { h =>
        assert(started.get(h.group).get == 1, s"${h.group} ran a job after its kill")
      }
      assert(gov.jobSpans.killed.isEmpty)
      assert(gov.jobSpans.openGroups == 0)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      gov.stop()
    }
  }
}
