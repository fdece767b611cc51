package graft.client

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.GatherClient
import graft.sink.Actions

/** A REST-backed [[GatherClient]] — the production counterpart of the
  * reference's `gather-node-client` boundary (DW.js:74,297,357,381,400,
  * 419,450), built on the JDK HTTP client (no extra dependencies).
  *
  * Reads: the list endpoints return JSON-lines, scanned through the
  * [[graft.sources.v2.GatherSource]] DataSourceV2 table — a lazy,
  * executor-side scan with column/limit/filter pushdown onto the wire
  * (and `parts=N` paging once a list outgrows one response). An explicit
  * schema means an empty list still yields a typed, empty DataFrame.
  * Because the relation is now lazy, each Spark job re-reads the
  * endpoint; a sync run wanting one consistent remote snapshot stores
  * the normalized list once as a [[graft.Checkpoints.cut]], as
  * [[graft.DataWarehouseSync.syncFilesystem]] does.
  *
  * Writes: action tables go through the gather DataSourceV2 write
  * boundary ([[Actions.applyV2]] → [[graft.sources.v2.GatherWriteBuilder]]
  * — symmetric with the V2 scans the read side plans): each partition
  * POSTs JSON-array batches from the executors with Spark-managed task
  * retry/commit semantics — one connection per partition, never per row,
  * never through the driver. Every batch carries an `Idempotency-Key`
  * header (md5 of the payload), so Spark task retries — which replay a
  * whole partition — are safe: the server deduplicates replays by key.
  * Transient failures (IO errors, 5xx) retry with linear backoff up to
  * `maxRetries`.
  */
class HttpGatherClient(spark: SparkSession, baseUrl: String,
                       maxRetries: Int = 3,
                       token: Option[String] = None) extends GatherClient {

  private val projectSchema = StructType(Seq(
    StructField("id", LongType), StructField("iam", StringType),
    StructField("p_file", StringType), StructField("p_md5", StringType),
    StructField("title", StringType), StructField("is_dataset", BooleanType)))

  private val categorySchema = StructType(Seq(
    StructField("id", LongType), StructField("category", StringType),
    StructField("name", StringType), StructField("short_name", StringType),
    StructField("path", StringType), StructField("iam", StringType)))

  private def getJsonLines(path: String, schema: StructType): DataFrame =
    // First-class V2 scan (graft.sources.v2.GatherSource): the GET runs
    // executor-side at scan time with column/limit/filter pushdown onto
    // the wire, instead of an eager driver fetch. Parsing is strict
    // (FAILFAST posture): a malformed or schema-drifted server line fails
    // the task loudly rather than feeding all-null rows — a null
    // p_md5/p_file would silently mis-classify projects in the match core.
    token.foldLeft(
      spark.read.format(graft.sources.v2.GatherSource.Format)
        .schema(schema)
        .option("url", s"$baseUrl$path")
        .option("retries", maxRetries))((r, t) => r.option("token", t))
      .load()

  /** Reshape the flat wire records to the API's nested §1.1 shape. */
  private def nest(flat: DataFrame): DataFrame = flat.select(
    col("id"),
    struct(col("iam"),
      struct(col("p_file").as("file"), col("p_md5").as("md5")).as("file"))
      .as("metadata"),
    struct(struct(col("title"), col("is_dataset").as("isDataset"))
      .as("proposalAttributes")).as("attributes"))

  override def listProjects(): DataFrame =
    nest(getJsonLines("/projects", projectSchema))
  override def listArchivedProjects(): DataFrame =
    nest(getJsonLines("/projects/archived", projectSchema))
  override def listCategories(): DataFrame =
    getJsonLines("/categories", categorySchema)

  private def post(path: String, actions: DataFrame): Unit =
    // the V2 write boundary (symmetric with the V2 scans above): JSON
    // batches POST executor-side per partition under md5-of-payload
    // idempotency keys, with Spark-managed task retry/commit semantics
    Actions.applyV2(actions, s"$baseUrl$path", maxRetries, token = token)

  override def applyCreates(creates: DataFrame): Unit =
    post("/projects/create", creates)
  override def applyUpdates(updates: DataFrame): Unit =
    post("/projects/update", updates)
  override def applyArchives(archives: DataFrame): Unit =
    post("/projects/archive", archives)
  override def applyCategoryCreates(cats: DataFrame): Unit =
    post("/categories/create", cats)
  override def applyCategoryRemoves(cats: DataFrame): Unit =
    post("/categories/remove", cats)
}

object HttpGatherClient {

  private def client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Attach `Authorization: Bearer <token>` when credentials are
    * configured — the reference's client is constructed from a
    * credentials file (index.js:1,9); here the token rides the V2
    * `token` option so executors authenticate without any driver-side
    * session state.
    */
  private def withAuth(b: HttpRequest.Builder, token: Option[String]): HttpRequest.Builder =
    token.fold(b)(t => b.header("Authorization", s"Bearer $t"))

  /** GET with bounded retry; returns the response body. */
  def get(url: String, maxRetries: Int, token: Option[String] = None): String =
    retrying(maxRetries, s"GET $url") {
      val resp = client.send(
        withAuth(HttpRequest.newBuilder(URI.create(url)), token).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      failOnStatus("GET", url, resp.statusCode())
      resp.body()
    }

  /** POST a JSON batch with an md5-of-payload Idempotency-Key and bounded
    * retry — replays of the same batch are server-side no-ops.
    */
  def post(url: String, body: String, maxRetries: Int,
           token: Option[String] = None): Unit =
    retrying(maxRetries, s"POST $url") {
      val resp = client.send(
        withAuth(HttpRequest.newBuilder(URI.create(url)), token)
          .header("Content-Type", "application/json")
          .header("Idempotency-Key", md5Hex(body))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      failOnStatus("POST", url, resp.statusCode())
    }

  /** 5xx is transient (IOException → retried); any other non-2xx is a
    * permanent client-side failure (bad payload, auth) that must surface
    * immediately — retrying a 4xx only delays and obscures the real error.
    */
  private def failOnStatus(verb: String, url: String, code: Int): Unit =
    if (code / 100 == 5)
      throw new java.io.IOException(s"$verb $url -> $code")
    else if (code / 100 != 2)
      throw new IllegalStateException(s"$verb $url -> $code (not retryable)")

  private def retrying[T](maxRetries: Int, what: String)(attempt: => T): T = {
    var n = 0
    while (true) {
      try return attempt
      catch {
        case e: java.io.IOException =>
          n += 1
          if (n > maxRetries)
            throw new java.io.IOException(s"$what failed after $n attempts", e)
          Thread.sleep(100L * n)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
