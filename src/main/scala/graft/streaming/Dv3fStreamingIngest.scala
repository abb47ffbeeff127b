package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dv3f.IngestJob

/** Streaming face of the DV3F ingest: watch a payload directory; each
  * new `<scope>_<code>.json` API payload becomes part of the next
  * micro-batch, which stages and idempotently UPSERTS it. This is the
  * reference's incremental model (re-run replaces rows with the same
  * uid, scripts/extract_load.py:233-240) promoted from cron-shaped
  * batch to event-driven streaming, with exactly-once provided by the
  * KEYED upsert rather than sink transactions: replays converge.
  *
  * Mechanics: a file stream discovers payload paths (checkpointed file
  * index = at-least-once delivery of new files); foreachBatch turns the
  * batch's file names into a `scopes` list and runs the batch DSv2
  * reader restricted to exactly those partitions through the batch
  * ingest's per-table load (`IngestJob.loadStaging`): each table's
  * batch is read once, persisted, counted, upserted, re-pointed in the
  * catalog and unpersisted, with one RunLog line per table. The
  * payload body is read by the DSv2 reader, not the file stream — the
  * stream only carries discovery. A failed table fails the micro-batch
  * (so the stream replays it) after the other table has landed.
  */
object Dv3fStreamingIngest {

  def start(spark: SparkSession, payloadDir: String, warehouseDir: String,
      checkpoint: String): StreamingQuery = {
    val discovered = spark.readStream
      .format("text")
      .option("wholetext", "true") // one row per payload file
      .load(s"$payloadDir/*.json")
      .select(input_file_name().as("path"))

    discovered.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val scopes = batch.select("path").distinct().collect()
          .map(_.getString(0))
          .map(p => new java.io.File(new java.net.URI(p).getPath).getName)
          .filter(_.endsWith(".json"))
          .flatMap { f =>
            // skip stray non-payload files (no '_' or empty scope) rather
            // than failing the whole micro-batch
            val base = f.stripSuffix(".json")
            val i = base.lastIndexOf('_')
            if (i <= 0) None
            else Some(s"${base.substring(0, i)}:${base.substring(i + 1)}")
          }
        if (scopes.nonEmpty) {
          val reader = spark.read.format("dv3f")
            .option("path", payloadDir)
            .option("scopes", scopes.mkString(","))
          val failed = IngestJob.loadStaging(spark, reader, warehouseDir).filterNot(_.ok)
          if (failed.nonEmpty)
            throw new IllegalStateException(s"dv3f micro-batch failed: ${failed.mkString("; ")}")
        }
        ()
      }
      .start()
  }
}
