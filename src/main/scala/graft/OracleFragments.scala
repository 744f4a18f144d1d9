package graft

/** DuckDB SQL twins of the Scala derivations — shared fragments composed
  * into the twins of SparkEntry.queries. Any change to
  * graft.sources.LogSource or graft.operators.Logstash must be mirrored
  * here (and vice versa): the correctness gate hash-compares Spark
  * results against these on the same parquet.
  */
object OracleFragments {

  /** events → RouterMessage columns: SQL twin of
    * LogSource.asRouterMessages (+ the ns→µs truncation, which DuckDB
    * does natively on read). */
  val routerMessages: String = """
    SELECT
      event_type || ' #' || CAST(event_id AS VARCHAR) AS data,
      ts AS time,
      CASE WHEN event_id % 2 = 0 THEN 'stdout' ELSE 'stderr' END AS source,
      md5(CAST(event_id AS VARCHAR)) AS container_id,
      '/app-' || CAST(user_id % 10 AS VARCHAR) AS container_name,
      CASE WHEN event_id % 3 = 0 THEN 'registry:5000/svc-' || CAST(user_id % 5 AS VARCHAR) || ':v2'
           WHEN event_id % 3 = 1 THEN 'svc-' || CAST(user_id % 5 AS VARCHAR) || ':latest'
           ELSE 'svc-' || CAST(user_id % 5 AS VARCHAR) END AS image,
      'host-' || CAST(user_id % 4 AS VARCHAR) AS hostname,
      user_id, event_id
    FROM events"""

  /** RFC3339Nano formatting of a µs timestamp column: fixed 6-digit
    * fraction then trailing-zero trim — twin of Logstash.rfc3339Nano. */
  def rfc3339(tsExpr: String): String =
    s"regexp_replace(strftime($tsExpr, '%Y-%m-%dT%H:%M:%S.%fZ'), '\\.?0+Z$$', 'Z')"

  /** First-colon image split — twin of Logstash.imageName/imageTag. */
  def imageName(c: String): String =
    s"CASE WHEN strpos($c, ':') > 0 THEN substr($c, 1, strpos($c, ':') - 1) ELSE $c END"
  def imageTag(c: String): String =
    s"CASE WHEN strpos($c, ':') > 0 THEN substr($c, strpos($c, ':') + 1) ELSE '' END"

  /** Labels-map JSON object, or SQL NULL for the empty map — twin of
    * LogSource labels + omitempty. Built with json_object so escaping
    * can never diverge from the engine's. */
  val labelsJson: String = """
    CASE WHEN user_id % 7 = 0 THEN NULL
         ELSE json_object(
           'env', CASE WHEN user_id % 3 = 0 THEN 'dev'
                       WHEN user_id % 3 = 1 THEN 'staging'
                       ELSE 'prod' END,
           'team', 't' || CAST(user_id % 3 AS VARCHAR)) END"""

  val dockerHost = "dockerhost-a"

  /** The nested docker JSON object — twin of Logstash.dockerFields +
    * to_json(ignoreNullFields). json_object preserves insertion order
    * (Go struct-declaration order) and escapes exactly like Spark's
    * Jackson; omitempty = one json_merge_patch that null-removes the
    * conditional keys (RFC 7386 — removal keeps remaining key order). */
  val dockerJson: String = s"""
    json_merge_patch(
      json_object(
        'name', substr(container_name, 2),
        'cid', substr(container_id, 1, 12),
        'image', ${imageName("image")},
        'image_tag', NULLIF(${imageTag("image")}, ''),
        'source', source,
        'docker_host', '$dockerHost',
        'labels', $labelsJson),
      CASE WHEN ${imageTag("image")} = '' AND user_id % 7 = 0
             THEN '{"image_tag":null,"labels":null}'
           WHEN ${imageTag("image")} = '' THEN '{"image_tag":null}'
           WHEN user_id % 7 = 0 THEN '{"labels":null}'
           ELSE '{}' END)"""

  /** Full Logstash V1 JSON document — twin of Logstash.toV1 + serialize. */
  val logstashV1Json: String = s"""
    CAST(json_object(
      '@timestamp', ${rfc3339("time")},
      'host', hostname,
      'message', data,
      'docker', $dockerJson) AS VARCHAR)"""

  /** Full Logstash V0 JSON document — twin of Logstash.toV0 + serialize. */
  val logstashV0Json: String = s"""
    CAST(json_object(
      '@timestamp', ${rfc3339("time")},
      '@source_host', hostname,
      '@message', data,
      '@fields', json_object('docker', $dockerJson)) AS VARCHAR)"""

  /** md5-based shard routing — twin of Routing.shardFor: full-width
    * (32-bit) deterministic, engine-portable stand-in for
    * "hash(partition_key) % numShards". */
  def shard(keyExpr: String, numShards: Int): String =
    s"CAST(${graft.functions.PortableHash.sqlHash32(keyExpr)} % $numShards AS INTEGER)"
}
