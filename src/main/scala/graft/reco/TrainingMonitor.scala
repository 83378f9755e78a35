package graft.reco

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Training progress monitor (SURVEY §2.11 M7): the reference polls the
  * Spark REST API and pattern-matches ALS stage names
  * (`Modelo/Crear modelo.ipynb` cells 9-10); the idiomatic in-process
  * equivalent is a SparkListener capturing completed stages, which the
  * caller can filter/label the same way.
  */
final class TrainingMonitor extends SparkListener {

  final case class StageRecord(stageId: Int, name: String, numTasks: Int,
      durationMs: Long)

  private val stages = mutable.ArrayBuffer.empty[StageRecord]

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val duration = (for {
        s <- info.submissionTime
        c <- info.completionTime
      } yield c - s).getOrElse(0L)
      stages += StageRecord(info.stageId, info.name, info.numTasks, duration)
    }

  def records: Seq[StageRecord] = synchronized(stages.toSeq)

  /** Stages whose call site matches a label (e.g. "ALS.scala"), the
    * reference's labeling trick. */
  def matching(pattern: String): Seq[StageRecord] =
    records.filter(_.name.contains(pattern))
}

object TrainingMonitor {
  /** Run `body` with a monitor attached; returns (result, records). */
  def monitored[T](spark: SparkSession)(body: => T)
      : (T, Seq[TrainingMonitor#StageRecord]) = {
    val m = new TrainingMonitor
    spark.sparkContext.addSparkListener(m)
    try {
      val r = body
      // listener events are delivered asynchronously: wait until the bus
      // has handed this monitor every stage the body completed
      GraftListenerBus.drain(spark.sparkContext)
      (r, m.records)
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
