package graft.dv3f

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.appender.FileAppender
import org.apache.logging.log4j.core.config.AppenderRef
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.logging.log4j.core.layout.PatternLayout

/** Structured per-branch run logging (SURVEY §2 D6). The reference
  * configures a loguru FILE sink for its pipeline log
  * (scripts/config/config.yaml:1-3, used by extract_load.py:12); the
  * Spark equivalent is a dedicated log4j2 logger (`graft.ingest`) that
  * the ingest job writes one structured line per branch to — key=value
  * pairs, grep/ingestable, no bespoke format. [[toFile]] attaches a
  * file appender to that logger programmatically, mirroring the
  * reference's config-driven sink path; without it the lines flow to
  * whatever log4j2 config the deployment already has (Spark's default
  * console/rolling appenders), which is where cluster log shipping
  * expects them.
  */
object RunLog {
  val LoggerName = "graft.ingest"
  private val log = LogManager.getLogger(LoggerName)

  /** One line per finished branch: stable key=value layout, status
    * first so alert rules match on the prefix. A loaded branch also
    * carries its per-layer ms (`stage_ms`, `upsert_ms`, `refresh_ms`).
    */
  def branch(report: IngestJob.BranchReport): Unit = try branchImpl(report)
    catch { case _: Throwable => () } // logging must never fail the run

  private def branchImpl(report: IngestJob.BranchReport): Unit = report.error match {
    case None =>
      log.info(s"status=ok scope=${report.scope} code=${report.code} " +
        s"rows=${report.rows}" +
        report.layerMs.map { case (k, v) => s" $k=$v" }.mkString)
    case Some(err) =>
      log.error(s"status=error scope=${report.scope} code=${report.code} " +
        s"rows=${report.rows} err=${err.replace('\n', ' ')}")
  }

  /** Attach a file sink to the ingest logger (the reference's
    * `logs/dv3f.log` contract) — idempotent per path, additive to
    * existing appenders.
    */
  def toFile(path: String): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val name = s"graft-ingest-file-${path.hashCode}"
    if (config.getAppender(name) == null) {
      val layout = PatternLayout.newBuilder()
        .withConfiguration(config)
        .withPattern("%d{ISO8601} %-5p %c %m%n").build()
      // the generic newBuilder() defeats Scala's type inference; the
      // stringly createAppender factory is the stable cross-version way
      // ignoreExceptions=true: a failing log write (disk full, file
      // deleted) must never propagate into the ingest job's
      // never-throws branch contract
      val appender = FileAppender.createAppender(path, "true", "false",
        name, "true", "true", "true", "8192", layout, null, "false",
        null, config)
      appender.start()
      config.addAppender(appender)
      val ref = AppenderRef.createAppenderRef(name, null, null)
      val existing = Option(config.getLoggers.get(LoggerName))
      val lc = existing.getOrElse {
        val nc = LoggerConfig.createLogger(true, Level.INFO, LoggerName,
          null, Array(ref), null, config, null)
        config.addLogger(LoggerName, nc)
        nc
      }
      lc.addAppender(appender, Level.INFO, null)
      ctx.updateLoggers()
    }
  }
}
