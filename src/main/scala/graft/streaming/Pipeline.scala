package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import graft.etl.{Enrich, Ndjson}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The reference's event-driven pipeline (SURVEY §2.9 T1-T4, §3.1),
  * re-expressed as Structured Streaming:
  *
  *  - S3 `ObjectCreated:Put` → processor Lambda (`infra/index.ts:275-286`,
  *    `lambda/handler.ts:32-69`) becomes a file-source stream on the landing
  *    directory. Unlike the reference — which silently drops all but
  *    `Records[0]` of a multi-record event (`lambda/handler.ts:35`, a bug we
  *    deliberately do NOT replicate) — the file source processes every
  *    arrival exactly once, tracked by the checkpoint.
  *  - `Trigger.AvailableNow` ≈ "drain whatever has arrived, then stop" —
  *    the batch-like semantics of the reference's one-Lambda-per-object
  *    model, with checkpointed exactly-once instead of Lambda at-least-once.
  *  - Per-object output routing (`transformed/{source_key}`,
  *    `glue/job.py:19`; metadata-hint bucket, `lambda/handler.ts:46-48`)
  *    becomes, per micro-batch, ONE write partitioned by source file into a
  *    staging directory under `outputRoot` (`_`-prefixed, so readers of the
  *    root skip it), then a move of each partition directory, through the
  *    Hadoop `FileSystem` API, to its caller-resolved output root.
  *    The move is a rename when root and staging share a filesystem, and a
  *    copy-then-delete (`FileUtil.copy`) when they do not. A batch therefore
  *    costs one Spark job and one pass over its rows, whatever the number
  *    of objects in it.
  *  - Fire-and-forget dispatch + job-run polling (`src/aws/
  *    lambda.service.ts:25-49`, `src/aws/glue.service.ts:53-62`) becomes a
  *    non-blocking `query.start()` whose handle registers in [[JobRegistry]]
  *    — and unlike the reference's upload response (which returns only a
  *    Lambda request id, forcing users to fish the run id out of logs,
  *    `README.md:87`), `run` returns the real run handle.
  *
  * Scale: the file source lists incrementally and processes files in
  * parallel; `maxFilesPerTrigger` bounds batch size. State (checkpoint) is
  * per-query, so one pipeline per landing prefix mirrors the reference's
  * `maxConcurrentRuns: 1` (`infra/index.ts:178-180`) without serializing
  * distinct pipelines.
  */
object Pipeline {

  /** Drain the landing dir once (AvailableNow), enriching each NDJSON object
    * and writing per-source-file NDJSON under `transformed/` — the
    * reference's full data path, distributed.
    *
    * @param resolveOutputRoot maps a source file name to its output root —
    *   the Spark form of the reference's per-object
    *   `pipeline-output-bucket` metadata hint with env-default fallback
    *   (`lambda/handler.ts:28-30,46-48`). Default: constant root.
    * @param maxFilesPerTrigger admission control, ON BY DEFAULT: a drain
    *   over a large backlog (first run on a populated zone, recovery
    *   after downtime) processes at most this many objects per
    *   micro-batch instead of one giant all-or-nothing batch — bounded
    *   memory/retry units, exactly-once across batches via the
    *   checkpoint. The reference-parity entry point must not need the
    *   caller to know the option spelling to be recovery-storm safe.
    * @param maxBytesPerTrigger byte-bounded admission instead (the right
    *   bound when object sizes vary wildly); Spark's file source forbids
    *   combining the two, so when set it REPLACES the file bound.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      outputRoot: String,
      schema: StructType,
      checkpointDir: String,
      resolveOutputRoot: Option[String => String] = None,
      maxFilesPerTrigger: Int = 1000,
      maxBytesPerTrigger: Option[Long] = None): StreamingQuery = {

    val resolve = resolveOutputRoot.getOrElse((_: String) => outputRoot)
    val stagingTag = UUID.nameUUIDFromBytes(checkpointDir.getBytes(UTF_8))
    val reader = spark.readStream
      .schema(schema.add(Ndjson.CorruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", Ndjson.CorruptCol)
    val admitted = maxBytesPerTrigger match {
      case Some(b) => reader.option("maxBytesPerTrigger", b.toString)
      case None    => reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    }
    val in = admitted.json(landingDir)
      // P4 (lambda/handler.ts:37 `decodeURIComponent(record.s3.object.key)`):
      // input_file_name() returns the PERCENT-ENCODED URI, so the source key
      // must be decoded before the transformed/{key} routing rule sees it —
      // otherwise an object named "a b.ndjson" routes to "a%20b.ndjson".
      // '+' is protected first: a URI path '+' is a literal plus (unlike the
      // form encoding url_decode implements), same as decodeURIComponent.
      .withColumn("__src", expr(
        "url_decode(replace(element_at(split(input_file_name(), '/'), -1), '+', '%2B'))"))

    val query = in.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // named by checkpoint and batch id: a replayed batch overwrites
        // its own residue
        val staging = new Path(outputRoot, s"_staging-$stagingTag-$batchId")
        Enrich.enrich(batch.drop(Ndjson.CorruptCol))
          .write.mode("overwrite").partitionBy("__src").json(staging.toString)
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = staging.getFileSystem(conf)
        fs.listStatus(staging).map(_.getPath).filter(_.getName.startsWith("__src=")).foreach { dir =>
          val src = ExternalCatalogUtils.unescapePathName(dir.getName.stripPrefix("__src="))
          // <resolvedRoot>/transformed/<source_key> (glue/job.py:19 rule)
          val target = new Path(resolve(src), Ndjson.transformedKey(src))
          val targetFs = target.getFileSystem(conf)
          targetFs.delete(target, true)
          targetFs.mkdirs(target.getParent)
          val moved =
            if (targetFs.getUri == fs.getUri) fs.rename(dir, target)
            else FileUtil.copy(fs, dir, targetFs, target, true, conf)
          if (!moved) throw new java.io.IOException(s"could not move $dir to $target")
          targetFs.create(new Path(target, "_SUCCESS")).close()
        }
        fs.delete(staging, true)
        ()
      }
      .start()
    JobRegistry.register(query)
    query
  }
}
