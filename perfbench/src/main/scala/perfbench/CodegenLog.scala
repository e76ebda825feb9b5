package perfbench

import java.util.concurrent.atomic.DoubleAdder

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

/** Janino compile seconds, summed from the engine's own per-compile log
  * line ("Code generated in N ms"). Spark's codegen metrics keep the
  * compile count exactly but the times only in a sampling reservoir, so
  * the log line is the one exact source. Capture is switched on for the
  * traced passes only: the line is an INFO record nobody formats
  * otherwise. The logger is detached from the console; its warnings and
  * errors are passed on to stderr. */
final class CodegenLog {
  private val Logger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val seconds = new DoubleAdder
  private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val config = new LoggerConfig(Logger, Level.WARN, false)

  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Pattern(ms) => seconds.add(ms.toDouble / 1e3)
      case m if e.getLevel.isMoreSpecificThan(Level.WARN) =>
        System.err.println(s"${e.getLevel} CodeGenerator: $m")
      case _ => ()
    }
  }
  appender.start()
  config.addAppender(appender, Level.INFO, null)
  ctx.getConfiguration.addLogger(Logger, config)
  ctx.updateLoggers()

  def capture(on: Boolean): Unit = {
    config.setLevel(if (on) Level.INFO else Level.WARN)
    ctx.updateLoggers()
  }

  def totalSeconds: Double = seconds.sum()
}
