package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The reference's per-record transform (`createLogstashMessage`,
  * logspoutkinesis.go:231-271) decomposed into pure column-expression
  * builders — SURVEY.md §2.2 P1-P11. All built-in Catalyst functions
  * (codegen'd, no UDFs in the hot path); Catalyst folds the constants and
  * prunes unused input columns for free.
  *
  * Input contract: a DataFrame with columns
  *   data:String, time:Timestamp, source:String, containerId:String,
  *   containerName:String, image:String, hostname:String,
  *   labels:Map[String,String]
  * (graft.model.RouterMessage).
  */
object Logstash {

  // ---- P2: splitImage (go :223-229) — split at FIRST ':'; tag "" if none.
  // `registry:5000/img:tag` → ("registry", "5000/img:tag") exactly like the
  // reference (strings.Index, first occurrence).
  def imageName(image: Column): Column =
    when(instr(image, ":") > 0, substring_index(image, ":", 1)).otherwise(image)

  def imageTag(image: Column): Column =
    when(instr(image, ":") > 0, image.substr(instr(image, ":") + 1, length(image)))
      .otherwise(lit(""))

  // ---- P3: cid = Container.ID[0:12] (go :233)
  def shortCid(containerId: Column): Column = substring(containerId, 1, 12)

  // ---- P4: name = Container.Name[1:] (go :234) — Docker's leading '/'
  def stripLeadingChar(containerName: Column): Column =
    substring(containerName, 2, Int.MaxValue)

  // ---- P5: RFC3339Nano (go :236). Go trims trailing fraction zeros; the
  // fixture data (and Spark TimestampType) is µs so we format 6 fractional
  // digits then trim trailing zeros (and a bare trailing dot), which is
  // byte-identical to Go's output at µs precision. Session TZ must be UTC.
  def rfc3339Nano(time: Column): Column =
    regexp_replace(
      date_format(time, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
      "\\.?0+Z$", "Z")

  // ---- P7: omitempty (go :32,:34,:35): empty string / empty map become
  // NULL so `to_json(ignoreNullFields=true)` drops the key like Go does.
  def emptyToNull(c: Column): Column = when(c === "", lit(null)).otherwise(c)
  def emptyMapToNull(c: Column): Column =
    when(c.isNull || size(c) === 0, lit(null)).otherwise(c)

  // ---- P7/P8/P10: the nested `docker` struct (DockerFields, go :28-36),
  // fields in Go struct-declaration order so JSON key order matches
  // json.Marshal byte-for-byte.
  def dockerFields(df: DataFrame, dockerHost: String): Column =
    struct(
      stripLeadingChar(df("containerName")).as("name"),
      shortCid(df("containerId")).as("cid"),
      imageName(df("image")).as("image"),
      emptyToNull(imageTag(df("image"))).as("image_tag"),
      df("source").as("source"),
      emptyToNull(lit(dockerHost)).as("docker_host"), // P6: constant/env column (go :81)
      emptyMapToNull(df("labels")).as("labels")
    )

  // ---- P1/P9: the two versioned projections (go :238-270). The V0/V1
  // branch is per-adapter config, so it selects the *plan*, not a per-row
  // `when` — mirroring the reference's construction-time branch.
  /** V1 document (go :49-54, flat `docker`) as a single struct Column —
    * field order = Go struct-declaration order = JSON key order. */
  def v1Doc(df: DataFrame, dockerHost: String): Column =
    struct(
      rfc3339Nano(df("time")).as("@timestamp"),
      df("hostname").as("host"),
      df("data").as("message"),
      dockerFields(df, dockerHost).as("docker"))

  /** V0 document (go :42-47): docker nested one level deeper. */
  def v0Doc(df: DataFrame, dockerHost: String): Column =
    struct(
      rfc3339Nano(df("time")).as("@timestamp"),
      df("hostname").as("@source_host"),
      df("data").as("@message"),
      struct(dockerFields(df, dockerHost).as("docker")).as("@fields"))

  /** V1 layout as a DataFrame */
  def toV1(df: DataFrame, dockerHost: String): DataFrame =
    df.select(v1Doc(df, dockerHost).as("doc")).select(col("doc.*"))

  /** Typed Dataset API boundary: the same projections with case-class
    * encoders — compile-time schema for library consumers; the plan is
    * identical to the DataFrame path (encoders only type the boundary,
    * Catalyst still sees the same column expressions). */
  def toV1Typed(ds: Dataset[graft.model.RouterMessage], dockerHost: String)
      : Dataset[graft.model.LogstashV1] = {
    val df = ds.toDF()
    toV1(df, dockerHost).as[graft.model.LogstashV1](
      org.apache.spark.sql.Encoders.product[graft.model.LogstashV1])
  }

  def toV0Typed(ds: Dataset[graft.model.RouterMessage], dockerHost: String)
      : Dataset[graft.model.LogstashV0] = {
    val df = ds.toDF()
    toV0(df, dockerHost).as[graft.model.LogstashV0](
      org.apache.spark.sql.Encoders.product[graft.model.LogstashV0])
  }

  /** V0 layout as a DataFrame */
  def toV0(df: DataFrame, dockerHost: String): DataFrame =
    df.select(v0Doc(df, dockerHost).as("doc")).select(col("doc.*"))

  /** P11 as a Column: JSON-serialize a document struct with omitempty. */
  def jsonize(doc: Column): Column =
    to_json(doc, Map("ignoreNullFields" -> "true"))

  def toLogstash(df: DataFrame, dockerHost: String, useV0: Boolean): DataFrame =
    if (useV0) toV0(df, dockerHost) else toV1(df, dockerHost)

  // ---- P11: serialization (go :199). ignoreNullFields=true implements
  // omitempty. Key order = struct order = Go declaration order.
  def serialize(doc: DataFrame): DataFrame =
    doc.select(to_json(struct(doc.columns.map(col).toIndexedSeq: _*),
      Map("ignoreNullFields" -> "true")).as("log_json"))

  /** Whole producer transform: RouterMessage rows → one JSON string column
    * (the reference's Stream() loop body, go :195-209, minus the network).
    * Adds the partition key (S4, go :209 2nd arg) alongside the payload. */
  def producerPayload(df: DataFrame, dockerHost: String,
                      useV0: Boolean = false): DataFrame = {
    val doc = toLogstash(df, dockerHost, useV0)
    doc.select(
      to_json(struct(doc.columns.map(col).toIndexedSeq: _*),
        Map("ignoreNullFields" -> "true")).as("log_json"),
      lit(dockerHost).as("partition_key"))
  }
}
