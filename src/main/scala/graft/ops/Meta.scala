package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY §2.2-A — control-plane semantics lifted from the reference's
  * only real data operations (audit insert/upsert, point lookup, keyed
  * delete, router dispatch, envelope build, validation, status mapping).
  *
  * Reference grounding (cited per key):
  * lambda/aws-dl-fmwrk-source-system-api/lambda_function.py and
  * swagger/aws-dl-fmwrk-swagger-apigateway.yaml under /root/reference.
  *
  * Scale note: all of these are either O(1)-output aggregates or
  * key-ordered projections whose joins are broadcastable (the key-sets
  * are small filtered subsets). At 100 TB the `orders`-sized sides stay
  * fully distributed; only the filtered key-sets move.
  */
object Meta {

  /** R1 audit append (lambda_function.py:19-32): table ∪ one literal row,
    * summarized. A relational UNION ALL — at scale this is a metadata-only
    * append (no shuffle).
    */
  private def insertAppend(s: SparkSession, d: String): DataFrame = {
    val ev  = events(s, d).select(col("event_id"))
    val one = s.range(1).select(lit(-1L).as("event_id"))
    ev.union(one).agg(
      count(lit(1)).as("n_rows"),
      min("event_id").as("min_id"),
      max("event_id").as("max_id"))
  }

  /** R2 guarded upsert (lambda_function.py:33-44,
    * ConditionExpression="attribute_exists" at :39): MERGE-style
    * conditional update expressed as left join + CASE projection. The
    * key-set is a filtered subset → broadcast side at scale.
    */
  private def conditionalUpdate(s: SparkSession, d: String): DataFrame = {
    val o    = orders(s, d)
    val keys = o.filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("k"))
    o.join(broadcast(keys), o("o_orderkey") === keys("k"), "left")
      .select(
        o("o_orderkey"),
        when(col("k").isNotNull, lit("X"))
          .otherwise(o("o_orderstatus")).as("status"))
      .orderBy("o_orderkey")
  }

  /** R3 point lookup by key (lambda_function.py:35-38): predicate reaches
    * the parquet scan (row-group skip via min/max stats at scale).
    */
  private def pointLookup(s: SparkSession, d: String): DataFrame =
    orders(s, d).filter(col("o_orderkey") === 42L)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")

  /** R4 keyed delete (lambda_function.py:113-130): anti-join rewrite of
    * DELETE WHERE key IN (…). Delete-set broadcast.
    */
  private def keyedDelete(s: SparkSession, d: String): DataFrame = {
    val c   = customer(s, d)
    val del = orders(s, d).filter(col("o_totalprice") > 450000)
      .select(col("o_custkey"))
    c.join(broadcast(del), c("c_custkey") === del("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** R7 router/dispatch (lambda_function.py:132-162): split resource path
    * on '/', take the method segment, CASE-dispatch with 404 default.
    */
  private def routerDispatch(s: SparkSession, d: String): DataFrame = {
    val methods = array(lit("health"), lit("create"), lit("read"),
      lit("update"), lit("delete"), lit("bogus"))
    events(s, d)
      .withColumn("path",
        concat(lit("/sourcesystem/"),
          element_at(methods, (col("event_id") % 6 + 1).cast("int"))))
      .withColumn("method", element_at(split(col("path"), "/"), 3))
      .withColumn("action",
        when(col("method") === "health", "200-health")
          .when(col("method") === "create", "create_source")
          .when(col("method") === "read", "read_source")
          .when(col("method") === "update", "update_source")
          .when(col("method") === "delete", "delete_source")
          .otherwise("404"))
      .groupBy("method", "action")
      .agg(count(lit(1)).as("n"))
      .orderBy("method")
  }

  /** R8 health probe (lambda_function.py:142-143): constant select. */
  private def health(s: SparkSession): DataFrame =
    s.range(1).select(lit("ok").as("status"), lit(200).as("code"))

  /** R11 request-envelope construction (swagger:37-61): the FULL canonical
    * shape the gateway's VTL template builds — `{body-json, params:
    * {querystring|path|header maps}, stage-variables, context:{18 named
    * identity/request fields}}` — serialized to JSON. Field names and
    * nesting mirror the template verbatim; values are derived
    * deterministically from event columns (identity fields the template
    * leaves unset surface as empty strings, exactly as VTL renders an
    * absent `$context.identity.*`). Narrow projection — scales as a map.
    */
  private def envelopeJson(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorKernels.ensureRegistered(s)
    val eid = col("event_id")
    val uid = col("user_id").cast("string")
    // JSON string escape exactly as to_json/Jackson renders these values —
    // graft_json_escape is Jackson-COMPLETE (quote, backslash, and all
    // control chars U+0000–001F incl. the \uXXXX generic form), so the
    // byte-parity with the to_json form (OptimizedRewriteSpec, corpus +
    // adversarial control-char strings) no longer rests on a "fixtures
    // carry no control characters" precondition (round-17 ADVICE #1).
    // One compiled pass instead of two replace() scans. Remaining
    // documented precondition: event_type/user_id non-null (to_json OMITS
    // null fields, concat nulls the row — fixtures and the events loader
    // guarantee non-null identifiers).
    val etEsc = expr("graft_json_escape(event_type)")
    // the envelope is ~700 bytes of mostly literal text per row; building
    // it with one concat of pre-escaped pieces replaces the per-row
    // Jackson struct serialization (the sf10 profile's #1 CPU sink), and
    // computing it AFTER the sort keeps the range exchange carrying three
    // narrow source columns instead of the rendered string (guide §2.3:
    // project the heavy column above the exchange)
    events(s, d).select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy("event_id")
      .select(col("event_id"), concat(
        lit("{\"body-json\":\""), etEsc,
        lit("\",\"params\":{\"querystring\":{\"tasktype\":\""), etEsc,
        lit("\",\"user\":\""), uid,
        lit("\"},\"path\":{\"srcSysId\":\""), (eid % 100).cast("string"),
        lit("\"},\"header\":{\"Content-Type\":\"application/json\"," +
          "\"User-Agent\":\"graft/1.0\"}}," +
          "\"stage-variables\":{\"env\":\"prod\",\"region\":\"us-east-2\"}," +
          "\"context\":{\"account-id\":\"123456789012\",\"api-id\":\"api-"),
        (eid % 10).cast("string"),
        lit("\",\"api-key\":\"\",\"authorizer-principal-id\":\""), uid,
        lit("\",\"caller\":\"caller-"), uid,
        lit("\",\"cognito-authentication-provider\":\"\"," +
          "\"cognito-authentication-type\":\"\",\"cognito-identity-id\":\"\"," +
          "\"cognito-identity-pool-id\":\"\",\"http-method\":\"POST\"," +
          "\"stage\":\"prod\",\"source-ip\":\"10.0."), (eid % 256).cast("string"),
        lit(".1\",\"user\":\"user-"), uid,
        lit("\",\"user-agent\":\"graft/1.0\",\"user-arn\":\"arn:user/"), uid,
        lit("\",\"request-id\":\"req-"), eid.cast("string"),
        lit("\",\"resource-id\":\"rsrc-"), (eid % 100).cast("string"),
        lit("\",\"resource-path\":\"/sourcesystem/{tasktype}\"}}")).as("envelope"))
  }

  /** The original to_json formulation — the semantics spec the concat
    * form above must match byte-for-byte (OptimizedRewriteSpec).
    */
  private[graft] def envelopeJsonPortable(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      col("event_id"),
      to_json(struct(
        col("event_type").as("body-json"),
        struct(
          struct(
            col("event_type").as("tasktype"),
            col("user_id").cast("string").as("user")).as("querystring"),
          struct(
            (col("event_id") % 100).cast("string").as("srcSysId")).as("path"),
          struct(
            lit("application/json").as("Content-Type"),
            lit("graft/1.0").as("User-Agent")).as("header")).as("params"),
        struct(
          lit("prod").as("env"),
          lit("us-east-2").as("region")).as("stage-variables"),
        struct(
          lit("123456789012").as("account-id"),
          concat(lit("api-"), (col("event_id") % 10)).as("api-id"),
          lit("").as("api-key"),
          col("user_id").cast("string").as("authorizer-principal-id"),
          concat(lit("caller-"), col("user_id")).as("caller"),
          lit("").as("cognito-authentication-provider"),
          lit("").as("cognito-authentication-type"),
          lit("").as("cognito-identity-id"),
          lit("").as("cognito-identity-pool-id"),
          lit("POST").as("http-method"),
          lit("prod").as("stage"),
          concat(lit("10.0."), (col("event_id") % 256), lit(".1")).as("source-ip"),
          concat(lit("user-"), col("user_id")).as("user"),
          lit("graft/1.0").as("user-agent"),
          concat(lit("arn:user/"), col("user_id")).as("user-arn"),
          concat(lit("req-"), col("event_id")).as("request-id"),
          concat(lit("rsrc-"), (col("event_id") % 100)).as("resource-id"),
          lit("/sourcesystem/{tasktype}").as("resource-path")
        ).as("context"))).as("envelope"))
      .orderBy("event_id")

  /** R12 required-param validation (swagger:13-18,268-271): rows failing
    * an IS NULL required-field check, counted by reason.
    */
  private def validateRequired(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("tasktype",
        when(col("event_id") % 5 === 0, lit(null: String))
          .otherwise(col("event_type")))
      .filter(col("tasktype").isNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_invalid"))
      .orderBy("event_type")

  /** R9 status→message response projection (lambda_function.py:46-54). */
  private def auditStatus(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("code", (lit(200) + (col("event_id") % 3) * 100).cast("int"))
      .withColumn("message",
        when(col("code") === 200, "success")
          .when(col("code") === 300, "redirect")
          .otherwise("error"))
      .groupBy("code", "message")
      .agg(count(lit(1)).as("n"))
      .orderBy("code")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "meta_insert_append"     -> insertAppend _,
    "meta_conditional_update" -> conditionalUpdate _,
    "meta_point_lookup"      -> pointLookup _,
    "meta_keyed_delete"      -> keyedDelete _,
    "meta_router_dispatch"   -> routerDispatch _,
    "meta_health"            -> ((s, _) => health(s)),
    "meta_envelope_json"     -> envelopeJson _,
    "meta_validate_required" -> validateRequired _,
    "meta_audit_status"      -> auditStatus _,
  )

  val oracle: Map[String, String] = Map(
    "meta_insert_append" ->
      """SELECT count(*) AS n_rows, min(event_id) AS min_id, max(event_id) AS max_id
        |FROM (SELECT event_id FROM events UNION ALL SELECT CAST(-1 AS BIGINT))""".stripMargin,
    "meta_conditional_update" ->
      """SELECT o.o_orderkey, CASE WHEN k.k IS NOT NULL THEN 'X' ELSE o.o_orderstatus END AS status
        |FROM orders o LEFT JOIN (SELECT o_orderkey AS k FROM orders WHERE o_totalprice > 400000) k
        |ON o.o_orderkey = k.k ORDER BY o.o_orderkey""".stripMargin,
    "meta_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey = 42""".stripMargin,
    "meta_keyed_delete" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,
    "meta_router_dispatch" ->
      """WITH p AS (
        |  SELECT (['health','create','read','update','delete','bogus'])[CAST(event_id % 6 AS INT) + 1] AS m
        |  FROM events),
        |x AS (SELECT str_split('/sourcesystem/' || m, '/')[3] AS method FROM p)
        |SELECT method,
        |  CASE WHEN method='health' THEN '200-health'
        |       WHEN method='create' THEN 'create_source'
        |       WHEN method='read' THEN 'read_source'
        |       WHEN method='update' THEN 'update_source'
        |       WHEN method='delete' THEN 'delete_source'
        |       ELSE '404' END AS action,
        |  count(*) AS n
        |FROM x GROUP BY 1, 2 ORDER BY method""".stripMargin,
    "meta_health" -> "SELECT 'ok' AS status, 200 AS code",
    "meta_envelope_json" ->
      """SELECT event_id,
        |  CAST(json_object(
        |    'body-json', event_type,
        |    'params', json_object(
        |      'querystring', json_object('tasktype', event_type, 'user', CAST(user_id AS VARCHAR)),
        |      'path', json_object('srcSysId', CAST(event_id % 100 AS VARCHAR)),
        |      'header', json_object('Content-Type', 'application/json', 'User-Agent', 'graft/1.0')),
        |    'stage-variables', json_object('env', 'prod', 'region', 'us-east-2'),
        |    'context', json_object(
        |      'account-id', '123456789012',
        |      'api-id', 'api-' || CAST(event_id % 10 AS VARCHAR),
        |      'api-key', '',
        |      'authorizer-principal-id', CAST(user_id AS VARCHAR),
        |      'caller', 'caller-' || CAST(user_id AS VARCHAR),
        |      'cognito-authentication-provider', '',
        |      'cognito-authentication-type', '',
        |      'cognito-identity-id', '',
        |      'cognito-identity-pool-id', '',
        |      'http-method', 'POST',
        |      'stage', 'prod',
        |      'source-ip', '10.0.' || CAST(event_id % 256 AS VARCHAR) || '.1',
        |      'user', 'user-' || CAST(user_id AS VARCHAR),
        |      'user-agent', 'graft/1.0',
        |      'user-arn', 'arn:user/' || CAST(user_id AS VARCHAR),
        |      'request-id', 'req-' || CAST(event_id AS VARCHAR),
        |      'resource-id', 'rsrc-' || CAST(event_id % 100 AS VARCHAR),
        |      'resource-path', '/sourcesystem/{tasktype}')) AS VARCHAR) AS envelope
        |FROM events ORDER BY event_id""".stripMargin,
    "meta_validate_required" ->
      """SELECT event_type, count(*) AS n_invalid
        |FROM (SELECT CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END AS tasktype, event_type
        |      FROM events)
        |WHERE tasktype IS NULL GROUP BY event_type ORDER BY event_type""".stripMargin,
    "meta_audit_status" ->
      """SELECT code,
        |  CASE WHEN code = 200 THEN 'success' WHEN code = 300 THEN 'redirect' ELSE 'error' END AS message,
        |  count(*) AS n
        |FROM (SELECT CAST(200 + (event_id % 3) * 100 AS INT) AS code FROM events)
        |GROUP BY 1, 2 ORDER BY code""".stripMargin,
  )
}
