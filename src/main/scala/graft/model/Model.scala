package graft.model

import java.sql.Timestamp

/** Data model of the engine: the reference's input record and its two
  * versioned output documents, re-expressed as Spark case classes.
  *
  * Input schema: the fields of `router.Message` the reference actually
  * consumes (reference logspoutkinesis.go:231-271).
  */
final case class RouterMessage(
    data: String,                 // the log line            (go :240,:258)
    time: Timestamp,              // event time, ns→µs       (go :236)
    source: String,               // "stdout"/"stderr"       (go :249,:267)
    containerId: String,          // 64-hex id               (go :233)
    containerName: String,        // leading '/'             (go :234)
    image: String,                // "repo:tag"              (go :232)
    hostname: String,             //                         (go :242,:260)
    labels: Map[String, String]   //                         (go :235)
)

/** Nested docker fields of both output layouts (go :28-36).
  * `imageTag`, `dockerHost`, `labels` are omitted from JSON when empty
  * (`omitempty`) — modeled as SQL NULL + `to_json` ignoreNullFields. */
final case class DockerFields(
    name: String,
    cid: String,
    image: String,
    image_tag: Option[String],
    source: String,
    docker_host: Option[String],
    labels: Option[Map[String, String]]
)

/** Typed V1 output document (go :49-54) for the Dataset API boundary.
  * Field names carry the JSON keys via the projection aliases; backtick
  * names mirror the Go struct tags. */
final case class LogstashV1(
    `@timestamp`: String,
    host: String,
    message: String,
    docker: DockerFields
)

/** Typed V0 output document (go :42-47, double-nested). */
final case class LogstashFields(docker: DockerFields)
final case class LogstashV0(
    `@timestamp`: String,
    `@source_host`: String,
    `@message`: String,
    `@fields`: LogstashFields
)

/** Producer/sink configuration surface (go :114-172). Defaults mirror the
  * reference exactly. The reference's `buffer_size` option is dead (its
  * parse reads the wrong option string, go :126); here the buffer
  * capacity is the `capacity` of `InMemoryKinesis.create`, so there is no
  * `buffer_size` option at all. The reference also spells the
  * stats-interval key `start_interval` (go :156); we accept both
  * spellings. */
final case class KinesisSinkConfig(
    streamName: String,
    addBlocksWhenBufferFull: Boolean = false, // go :115 (false: drop when full; InMemoryKinesis.tryPut honours it)
    flushIntervalSec: Int = 1,                // go :131
    batchSize: Int = 10,                      // go :139
    maxAttemptsPerRecord: Int = 10,           // go :147
    statIntervalSec: Int = 1,                 // go :155
    dockerHost: String = "unknown-docker-host", // env LK_DOCKER_HOST, go :81
    useV0Layout: Boolean = false,             // opt use_v0_layout / env LK_USE_V0_LAYOUT, go :84-87
    numShards: Int = 4,
    /** Extension beyond the reference (which is at-least-once by
      * construction, go :147-153): when true, a replayed micro-batch —
      * the standard foreachBatch failure mode after a driver restart —
      * skips (batchId, partition) delivery units that already completed,
      * upgrading the sink to effectively-once at unit granularity. The
      * default stays reference-faithful at-least-once. */
    idempotentSink: Boolean = false
)

object KinesisSinkConfig {
  /** Build from a string-keyed options map, mirroring
    * `getKinesisConfig` (go :114-172): absent/empty/unparsable values
    * fall back to the defaults. */
  def fromOptions(streamName: String, opts: Map[String, String],
                  env: Map[String, String] = sys.env): KinesisSinkConfig = {
    def int(key: String, dflt: Int): Int =
      opts.get(key).filter(_.nonEmpty).flatMap(_.toIntOption).getOrElse(dflt)
    def bool(key: String, dflt: Boolean): Boolean =
      opts.get(key).filter(_.nonEmpty).flatMap(_.toBooleanOption).getOrElse(dflt)
    KinesisSinkConfig(
      streamName = streamName,
      addBlocksWhenBufferFull = bool("add_blocks_when_buffer_full", false),
      flushIntervalSec = int("flush_interval", 1),
      batchSize = int("batch_size", 10),
      maxAttemptsPerRecord = int("max_attempts_per_record", 10),
      // accept both the reference's misspelled key and the intended one
      statIntervalSec = int("stat_interval", int("start_interval", 1)),
      dockerHost = env.getOrElse("LK_DOCKER_HOST", "unknown-docker-host"),
      useV0Layout = opts.get("use_v0_layout").exists(_.nonEmpty) ||
        env.get("LK_USE_V0_LAYOUT").exists(_.nonEmpty),
      numShards = int("num_shards", 4),
      idempotentSink = bool("idempotent_sink", false)
    )
  }
}
