package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Captures what one logger logs while a block runs. */
object LogProbe {

  /** Logs a WARN with a FileNotFoundException when its metadata probe
    * stats a read path that does not exist (a missing dir, or a glob).
    */
  val FileStreamSink = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"

  /** Runs `body` with `logger` at WARN and returns its result with the
    * text (message, then the thrown exception) of every event `logger`
    * logged meanwhile.
    */
  def capture[A](logger: String)(body: => A): (A, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("log-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage +
          Option(e.getThrown).fold("")(_.toString))
    }
    val log = LogManager.getLogger(logger).asInstanceOf[Logger]
    val oldLevel = log.getLevel
    probe.start()
    log.addAppender(probe)
    log.setLevel(Level.WARN)
    val out = try body finally {
      log.removeAppender(probe)
      log.setLevel(oldLevel)
      probe.stop()
    }
    (out, seen.asScala.toSeq)
  }
}
