package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Totals of the Spark work done between two samples. Task walls are
  * kept per stage so skew (max over median task wall) is per stage.
  */
final case class Sample(jobs: Int, failedJobs: Int, stages: Int,
    shuffleWriteBytes: Long,
    spillBytes: Long, runMs: Long, gcMs: Long,
    stageTaskMs: Map[Int, Seq[Long]]) {

  def shuffleMb: Double = shuffleWriteBytes / 1e6
  def spillMb: Double = spillBytes / 1e6
  def gcFrac: Double = if (runMs == 0) 0.0 else gcMs.toDouble / runMs

  /** Max over median task wall in the stage with the most task time. */
  def skew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val walls = stageTaskMs.values.maxBy(_.sum).map(_.toDouble)
      val med = Stats.median(walls)
      if (med <= 0) 1.0 else walls.max / med
    }
}

/** The benchmark's own listener. It listens only between `start()` and
  * `stop()`, so traced and untraced runs of the same work can alternate.
  * `sample()` drains the listener bus first, so it never reads counters
  * an action has not delivered yet.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  private var jobs, failedJobs, stages = 0
  private var shuffleWrite, spill, runMs, gcMs = 0L
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    e.jobResult match {
      case JobSucceeded => ()
      case _ => failedJobs += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
    }
  }

  /** Counters since the last reset. */
  def sample(): Sample = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      Sample(jobs, failedJobs, stages, shuffleWrite,
        spill, runMs, gcMs, taskMs.view.mapValues(_.toSeq).toMap)
    }
  }

  def reset(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      jobs = 0; failedJobs = 0; stages = 0
      shuffleWrite = 0; spill = 0; runMs = 0; gcMs = 0
      taskMs.clear()
    }
  }

  /** Listen from now on, with every counter at zero. */
  def start(): Unit = {
    reset()
    spark.sparkContext.addSparkListener(this)
  }

  def stop(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }
}

object Trace {
  /** Runs the same unit of work `reps` times untraced and `reps` times
    * traced, in alternation, swapping which goes first in each pair so
    * that warm-up drift falls on both sides alike. `run(traced)` does
    * the work once. Returns (untraced results, traced results).
    */
  def alternate[A](reps: Int)(run: Boolean => A): (Seq[A], Seq[A]) = {
    val pairs = (0 until reps).map { i =>
      if (i % 2 == 0) { val u = run(false); (u, run(true)) }
      else { val t = run(true); (run(false), t) }
    }
    (pairs.map(_._1), pairs.map(_._2))
  }

  /** Traced wall over untraced wall, minus 1, from the medians. */
  def overhead(untraced: Seq[Double], traced: Seq[Double]): Double =
    Stats.median(traced) / Stats.median(untraced) - 1
}
