package graft.tools

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** `Probe.run` is the measurement behind `runMain graft.tools.Probe`:
  * a batch query reports its jobs and tasks with one entry per job, a
  * streaming registry its micro-batches and trigger sections, and the
  * probe's listener is gone once the run returns. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // LiveListenerBus.listeners is package-private to Spark; read it
  // reflectively and keep only the probe's own recorder class
  private def probeListeners(): Seq[String] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
      .map(_.getClass.getName).filter(_.startsWith("graft.tools.Probe"))
  }

  test("a batch query reports jobs, tasks and one entry per job") {
    val run = Probe.run(spark, sf, "dq15_winnowing")
    assert(run.jobs > 0 && run.tasks > 0, run.lines.head)
    assert(run.jobList.size == run.jobs, run.lines.mkString("\n"))
    assert(run.jobList.forall(j => j.wallS >= 0 && j.site.nonEmpty))
    assert(run.lines.size == 1 + run.jobs)
    assert(run.batches == 0 && run.sections.isEmpty)
  }

  test("a streaming registry reports its batches and addBatch section") {
    val run = Probe.run(spark, sf, "st16_incremental_stats")
    assert(run.batches > 0, run.lines.head)
    assert(run.sections.exists { case (k, s) => k == "addBatch" && s >= 0 },
      run.lines.head)
    assert(run.lines.head.contains("addBatch="))
  }

  test("no probe listener stays registered") {
    assert(probeListeners().isEmpty)
    Probe.run(spark, sf, "dq15_winnowing")
    assert(probeListeners().isEmpty)
  }
}
