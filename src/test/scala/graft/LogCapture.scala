package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Captures what a class logs, for specs that pin a warning. */
object LogCapture {

  /** Messages of the warnings `cls`'s logger emits while `body` runs. */
  def warnings(cls: Class[_])(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val logger = LogManager.getLogger(cls).asInstanceOf[Logger]
    val appender = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try body
    finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    seen.asScala.toSeq
  }
}
