package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import scala.jdk.CollectionConverters._

/** Captures the log4j events of level WARN and above that `body` logs. */
object LogCapture {
  def warnings[T](body: => T): (T, Seq[LogEvent]) = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val capture = new AbstractAppender("graft-capture-" + System.nanoTime(), null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable): Unit
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val level = root.getLevel
    root.addAppender(capture, Level.WARN, null)
    if (level.isMoreSpecificThan(Level.ERROR)) root.setLevel(Level.WARN)
    ctx.updateLoggers()
    val result =
      try body
      finally {
        root.removeAppender(capture.getName)
        root.setLevel(level)
        ctx.updateLoggers()
        capture.stop()
      }
    (result, events.asScala.toSeq)
  }

  /** One line per event: logger name and formatted message. */
  def show(events: Seq[LogEvent]): String =
    events.map(e => s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}").mkString("\n")
}
