package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.rdd.RDD

object Checkpoints {
  // RDD.isLocallyCheckpointed is private[spark] in Scala, public in bytecode.
  private val isLocalCkpt = classOf[RDD[_]].getMethod("isLocallyCheckpointed")
  def isLocal(r: RDD[_]): Boolean = isLocalCkpt.invoke(r).asInstanceOf[Boolean]
}

/** Routes ERROR log events into counters instead of the console. The
  * benign "Failed to update accumulator … (Unknown class)" race (a late
  * task result arriving after cleanup unregistered its accumulator) is
  * counted on its own; every other error is counted and its first lines
  * kept.
  */
class LogCapture {
  private var accumulatorErrors = 0L
  private var errors = 0L
  private val first = ArrayBuffer.empty[String]

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val capture = new AbstractAppender("perfbench", null, null, true, Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit = if (ev.getLevel.isMoreSpecificThan(Level.ERROR)) {
        val msg = Option(ev.getMessage.getFormattedMessage).getOrElse("")
        LogCapture.this.synchronized {
          if (msg.contains("Failed to update accumulator") && msg.contains("(Unknown class)"))
            accumulatorErrors += 1
          else {
            errors += 1
            if (first.size < 5) first += s"${ev.getLoggerName}: ${msg.takeWhile(_ != '\n').take(200)}"
          }
        }
      }
    }
    capture.start()
    root.getAppenders.keySet().toArray.foreach(k => root.removeAppender(k.toString))
    root.addAppender(capture, Level.ERROR, null)
    ctx.updateLoggers()
  }

  def summary: Map[String, Any] = synchronized(Map(
    "harness.accumulator_errors" -> accumulatorErrors,
    "harness.log_errors" -> errors,
    "first_errors" -> first.toList))
}
