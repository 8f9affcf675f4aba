package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Probes for the checkpoint lifetime rule (see [[graft.operators.Dedup]]):
  * a checkpoint lives while a frame that reads it is reachable, and the
  * ContextCleaner frees it after that. */
object CheckpointProbe {
  /** Ids of the RDDs that hold cached or checkpoint blocks right now. */
  def cachedRddIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** Id of the checkpoint RDD `df` reads, if it reads one. */
  def checkpointId(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }

  /** GC and poll, for up to `timeoutMs`, until `done` holds; whether it
    * did. The ContextCleaner acts only after a GC has found a dropped
    * RDD unreachable. */
  def gcUntil(timeoutMs: Long = 30000L)(done: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = done
    while (!ok && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
      ok = done
    }
    ok
  }

  /** Runs `f` and returns the ids of the RDDs Spark unpersisted
    * meanwhile (by an explicit call or by the ContextCleaner) as a live
    * view. */
  def unpersistedDuring[T](spark: SparkSession)(f: java.util.Set[Int] => T): T = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        ids.add(e.rddId)
    }
    spark.sparkContext.addSparkListener(l)
    try f(ids) finally spark.sparkContext.removeSparkListener(l)
  }

  /** Runs `f` and returns the messages logged meanwhile at WARN or above
    * (the root logger's level). */
  def warningsDuring[T](f: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("checkpoint-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(app)
    try {
      val out = f
      (out, seen.asScala.toSeq)
    } finally {
      root.removeAppender(app)
      app.stop()
    }
  }

  /** The WARN Spark logs when a locally checkpointed RDD is unpersisted
    * explicitly. */
  val RecomputeWarning = "cannot be recomputed after unpersisting"
}
