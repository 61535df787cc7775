package graft.sources

import java.net.{InetSocketAddress, URI, URLDecoder, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.connector.catalog.Identifier

/** REST catalog protocol — the external-metastore client the reference
  * reaches through `catalog-impl` / `type=rest`
  * (`spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/SparkCatalog.java:101-104,148-154`
  * in /root/reference). Route shapes and payloads follow the public
  * Iceberg REST catalog OpenAPI (`open-api/rest-catalog-open-api.yaml`
  * upstream): `GET /v1/config`, namespace CRUD under `/v1/namespaces`
  * (multipart namespaces joined with the `%1F` unit separator), table
  * list/register/load/drop under `/v1/namespaces/{ns}/tables`, and
  * `POST /v1/tables/rename`. What travels over the wire here is the
  * (identifier -> table location) mapping — graft tables carry their own
  * manifest/snapshot state at the location, so the catalog service is a
  * pure name authority, exactly the role [[CatalogBackend]] isolates.
  *
  * Scale posture: every call is driver-side, metadata-only, O(1) per
  * resolution (one small JSON document); nothing here is on the executor
  * or per-row path. The server end ([[RestCatalogServer]]) persists
  * through a [[RegistryBackend]], so concurrent writers from ANY number
  * of clients serialize through the same generation-CAS discipline the
  * in-process registry uses — lost updates are impossible regardless of
  * which side of the wire the writer is on.
  */
private[graft] object RestJson {
  val mapper = new ObjectMapper()

  def obj(): ObjectNode = mapper.createObjectNode()
  def parse(s: String): JsonNode = mapper.readTree(s)

  def identNode(ident: Identifier): ObjectNode = {
    val o = obj()
    val ns = o.putArray("namespace")
    ident.namespace().foreach(ns.add)
    o.put("name", ident.name())
    o
  }

  def readIdent(n: JsonNode): Identifier = {
    val ns = n.get("namespace").elements().asScala.map(_.asText()).toArray
    Identifier.of(ns, n.get("name").asText())
  }

  def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq
}

/** Client side: a [[CatalogBackend]] whose identifier state lives behind
  * an HTTP catalog service. The warehouse root (used only to derive the
  * default layout location of a table about to be created) comes from the
  * server's `GET /v1/config` response, the same way the Iceberg REST
  * client takes `warehouse` from config overrides — the client needs NO
  * local configuration beyond the service URI.
  */
class RestBackend(uri: String) extends CatalogBackend {
  import RestBackend._

  override def locationDecoupled: Boolean = true

  /** Server-advertised warehouse root (from `GET /v1/config`). */
  val warehouse: String = {
    val cfg = RestJson.parse(get(uri, "/v1/config").getOrElse(throw new IllegalStateException(
      s"REST catalog at $uri returned no /v1/config")))
    cfg.path("overrides").path("warehouse").asText("")
  }
  require(warehouse.nonEmpty, s"REST catalog at $uri advertises no warehouse in /v1/config")

  // the EMPTY namespace (top-level tables) must survive as a routable URL
  // segment: an empty string collapses in the server's path split, so
  // every route for it would 404 — encode it as the bare separator (which
  // no real namespace part can round-trip to: parts are %1F-JOINED)
  private def nsPath(ns: Array[String]): String =
    if (ns.isEmpty) RestBackend.enc(RestBackend.NsSep)
    else URLEncoder.encode(ns.mkString(RestBackend.NsSep), "UTF-8")

  override def tableLocation(ident: Identifier): Path =
    registeredLocation(ident).getOrElse(
      // default layout for a to-be-created table; becomes authoritative
      // only once recordTable registers it with the service
      Paths.get(warehouse, (ident.namespace() :+ ident.name()): _*))

  override def registeredLocation(ident: Identifier): Option[Path] =
    get(uri, s"/v1/namespaces/${nsPath(ident.namespace())}/tables/${enc(ident.name())}")
      .map(body => Paths.get(RestJson.parse(body).get("metadata-location").asText()))

  override def recordTable(ident: Identifier, location: Path): Unit = {
    val body = RestJson.obj()
    body.put("name", ident.name())
    body.put("metadata-location", location.toAbsolutePath.toString)
    val r = post(uri, s"/v1/namespaces/${nsPath(ident.namespace())}/register", body.toString)
    // 409 = a concurrent client registered this identifier (at another
    // location) between our existence check and this register — surface
    // it as the same exception a lost local CREATE race raises
    if (r.statusCode() == 409)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    expect(r, 200, s"register ${ident}")
  }

  override def forgetTable(ident: Identifier): Unit = {
    val r = delete(uri, s"/v1/namespaces/${nsPath(ident.namespace())}/tables/${enc(ident.name())}")
    // 404 = already gone (idempotent drop); anything else non-2xx is a
    // real failure the caller must see — data may already be deleted, but
    // the registration must not silently survive
    if (r.statusCode() != 204 && r.statusCode() != 200 && r.statusCode() != 404)
      throw new IllegalStateException(
        s"REST catalog: drop $ident failed with HTTP ${r.statusCode()}: ${r.body()}")
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Path = {
    val body = RestJson.obj()
    body.set[ObjectNode]("source", RestJson.identNode(oldIdent))
    body.set[ObjectNode]("destination", RestJson.identNode(newIdent))
    val resp = post(uri, "/v1/tables/rename", body.toString)
    // translate protocol conflicts back into the catalog contract's
    // analysis exceptions — a lost rename race must surface as
    // ALREADY_EXISTS / TABLE_NOT_FOUND, not an internal HTTP error
    // (the registry backend used directly throws exactly these)
    if (resp.statusCode() == 409)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (newIdent.namespace() :+ newIdent.name()).toSeq)
    if (resp.statusCode() == 404)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (oldIdent.namespace() :+ oldIdent.name()).toSeq)
    expect(resp, 200, s"rename $oldIdent -> $newIdent")
    Paths.get(RestJson.parse(resp.body()).get("metadata-location").asText())
  }

  override def listTables(ns: Array[String], isTable: Path => Boolean): Seq[Identifier] =
    get(uri, s"/v1/namespaces/${nsPath(ns)}/tables").toSeq.flatMap { body =>
      RestJson.parse(body).get("identifiers").elements().asScala
        .map(RestJson.readIdent).toSeq
    }

  override def listNamespaces(isTable: Path => Boolean): Seq[Array[String]] =
    get(uri, "/v1/namespaces").toSeq.flatMap { body =>
      RestJson.parse(body).get("namespaces").elements().asScala
        .map(n => RestJson.strings(n).toArray).toSeq
    }

  override def namespaceExists(ns: Array[String]): Boolean =
    get(uri, s"/v1/namespaces/${nsPath(ns)}").isDefined

  override def createNamespace(ns: Array[String]): Unit = {
    val body = RestJson.obj()
    val arr = body.putArray("namespace")
    ns.foreach(arr.add)
    expect(post(uri, "/v1/namespaces", body.toString), 200, s"create namespace ${ns.mkString(".")}")
  }

  override def dropNamespace(ns: Array[String], cascade: Boolean,
      dropTable: Identifier => Unit): Boolean = {
    if (!namespaceExists(ns)) return false
    val tables = listTables(ns, _ => true)
    if (tables.nonEmpty && !cascade)
      throw new IllegalStateException(s"namespace not empty: ${ns.mkString(".")}")
    // data deletion stays client-side (the service is a name authority,
    // it never touches table storage): drop each table through the
    // catalog's own dropTable, THEN retire the namespace record
    tables.foreach(dropTable)
    val r = delete(uri, s"/v1/namespaces/${nsPath(ns)}")
    // the server can refuse (409: a concurrent client registered a table
    // between our listing and this DELETE) — success must not be assumed
    if (r.statusCode() != 204 && r.statusCode() != 200 && r.statusCode() != 404)
      throw new IllegalStateException(
        s"REST catalog: drop namespace ${ns.mkString(".")} failed with " +
          s"HTTP ${r.statusCode()}: ${r.body()}")
    true
  }
}

object RestBackend {
  /** Multipart namespaces join with the unit separator in URL segments,
    * per the Iceberg REST spec's `namespace-separator` convention.
    */
  private[sources] val NsSep = "\u001F"

  // one shared client: java.net.http.HttpClient is thread-safe and pools
  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  private[sources] def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  private def send(req: HttpRequest): HttpResponse[String] =
    client.send(req, HttpResponse.BodyHandlers.ofString())

  // per-request deadline: a hung catalog service must fail the query, not
  // stall the driver indefinitely
  private def builder(uri: String, path: String): HttpRequest.Builder =
    HttpRequest.newBuilder(URI.create(uri + path))
      .timeout(java.time.Duration.ofSeconds(30))

  private[sources] def get(uri: String, path: String): Option[String] = {
    val r = send(builder(uri, path).GET().build())
    r.statusCode() match {
      case 200 | 204 => Some(r.body())
      // only NOT FOUND means "does not exist"; a 5xx/4xx service error
      // must NOT read as absence — tableExists=false during a transient
      // outage would let CREATE silently re-register a live identifier
      case 404 => None
      case code => throw new IllegalStateException(
        s"REST catalog: GET $path failed with HTTP $code: ${r.body()}")
    }
  }

  private[sources] def post(uri: String, path: String, body: String): HttpResponse[String] =
    send(builder(uri, path)
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build())

  private[sources] def delete(uri: String, path: String): HttpResponse[String] =
    send(builder(uri, path).DELETE().build())

  private[sources] def expect(r: HttpResponse[String], code: Int, what: String): Unit =
    if (r.statusCode() != code) throw new IllegalStateException(
      s"REST catalog: $what failed with HTTP ${r.statusCode()}: ${r.body()}")

  /** Registry lookup for out-of-catalog resolvers (the DML parser): the
    * service-recorded location of the table identified by `parts`
    * (namespace …, name), if any. Takes pre-split parts — the same API
    * as [[RegistryBackend.lookup]] — so a table or namespace part
    * containing a literal dot resolves to its own identifier instead of
    * being re-split into the wrong one.
    */
  def lookup(uri: String, parts: Seq[String]): Option[String] = {
    if (parts.length < 2) return None
    val ns = URLEncoder.encode(parts.dropRight(1).mkString(NsSep), "UTF-8")
    get(uri, s"/v1/namespaces/$ns/tables/${enc(parts.last)}")
      .map(body => RestJson.parse(body).get("metadata-location").asText())
  }
}

/** Server side: an embeddable catalog service over the JDK's built-in
  * `com.sun.net.httpserver.HttpServer`, persisting identifier state
  * through a [[RegistryBackend]] under `warehouse` (so server restarts
  * lose nothing and concurrent mutations CAS-serialize). In production
  * this process would run next to the metastore database; in the sandbox
  * it runs in-process on an ephemeral localhost port, which is exactly
  * how the reference's own REST catalog tests exercise their client.
  */
class RestCatalogServer(warehouse: String) {
  private val state = new RegistryBackend(warehouse)
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Start on an ephemeral port; returns the service URI. */
  def start(): String = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1", (ex: HttpExchange) => handle(ex))
    // small pool so one slow client never blocks the rest; handlers are
    // concurrency-safe because every mutation goes through the registry's
    // generation CAS
    pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.start()
    s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    // HttpServer.stop does NOT shut down a user-supplied executor — the 4
    // non-daemon pool threads would outlive every stop() and hang JVM exit
    if (pool != null) pool.shutdown()
  }

  private def reply(ex: HttpExchange, code: Int, body: String = ""): Unit = {
    val bytes = body.getBytes(UTF_8)
    if (body.nonEmpty) ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def decodeNs(seg: String): Array[String] = {
    val s = URLDecoder.decode(seg, "UTF-8")
    // the bare separator is the EMPTY namespace's routable encoding
    if (s == RestBackend.NsSep) Array.empty
    else s.split(RestBackend.NsSep.head)
  }

  private def handle(ex: HttpExchange): Unit = try {
    val method = ex.getRequestMethod
    // raw path so %1F-joined namespace segments survive as ONE segment
    val segs = ex.getRequestURI.getRawPath.stripPrefix("/v1").stripPrefix("/")
      .split('/').filter(_.nonEmpty).toList
    (method, segs) match {
      case ("GET", List("config")) =>
        val o = RestJson.obj()
        o.putObject("defaults")
        o.putObject("overrides").put("warehouse", warehouse)
        reply(ex, 200, o.toString)

      case ("GET", List("namespaces")) =>
        val o = RestJson.obj()
        val arr = o.putArray("namespaces")
        state.listNamespaces(_ => false).foreach { ns =>
          val a = arr.addArray(); ns.foreach(a.add)
        }
        reply(ex, 200, o.toString)

      case ("POST", List("namespaces")) =>
        val ns = RestJson.strings(RestJson.parse(readBody(ex)).get("namespace")).toArray
        state.createNamespace(ns)
        reply(ex, 200, RestJson.obj().toString)

      case (("GET" | "HEAD"), List("namespaces", nsSeg)) =>
        if (!state.namespaceExists(decodeNs(nsSeg))) reply(ex, 404)
        else if (method == "HEAD") reply(ex, 204) // no body on HEAD
        else reply(ex, 200, RestJson.obj().toString)

      case ("DELETE", List("namespaces", nsSeg)) =>
        val ns = decodeNs(nsSeg)
        if (!state.namespaceExists(ns)) reply(ex, 404)
        else if (state.listTables(ns, _ => true).nonEmpty) reply(ex, 409,
          """{"error":"namespace not empty"}""")
        else { state.dropNamespace(ns, cascade = false, _ => ()); reply(ex, 204) }

      case ("GET", List("namespaces", nsSeg, "tables")) =>
        val o = RestJson.obj()
        val arr = o.putArray("identifiers")
        state.listTables(decodeNs(nsSeg), _ => true).foreach { id =>
          arr.add(RestJson.identNode(id))
        }
        reply(ex, 200, o.toString)

      case ("POST", List("namespaces", nsSeg, "register")) =>
        val body = RestJson.parse(readBody(ex))
        val ident = Identifier.of(decodeNs(nsSeg), body.get("name").asText())
        val loc = Paths.get(body.get("metadata-location").asText())
        state.registeredLocation(ident) match {
          // two clients racing CREATE … LOCATION both pass commitCreate
          // (different dirs); letting the second register would silently
          // orphan the first table's registration — Iceberg's register
          // endpoint returns 409 AlreadyExists. Same location stays
          // idempotent (REPLACE TABLE re-registers its own location).
          case Some(existing) if existing != loc =>
            reply(ex, 409, """{"error":"table already exists"}""")
          case _ =>
            state.recordTable(ident, loc)
            reply(ex, 200, RestJson.obj().toString)
        }

      case ("GET", List("namespaces", nsSeg, "tables", tSeg)) =>
        val ident = Identifier.of(decodeNs(nsSeg), URLDecoder.decode(tSeg, "UTF-8"))
        state.registeredLocation(ident) match {
          case Some(loc) =>
            reply(ex, 200, RestJson.obj().put("metadata-location", loc.toString).toString)
          case None => reply(ex, 404)
        }

      case ("DELETE", List("namespaces", nsSeg, "tables", tSeg)) =>
        val ident = Identifier.of(decodeNs(nsSeg), URLDecoder.decode(tSeg, "UTF-8"))
        if (state.registeredLocation(ident).isEmpty) reply(ex, 404)
        else { state.forgetTable(ident); reply(ex, 204) }

      case ("POST", List("tables", "rename")) =>
        val body = RestJson.parse(readBody(ex))
        val from = RestJson.readIdent(body.get("source"))
        val to = RestJson.readIdent(body.get("destination"))
        if (state.registeredLocation(from).isEmpty) reply(ex, 404)
        else if (state.registeredLocation(to).isDefined) reply(ex, 409,
          """{"error":"destination exists"}""")
        else {
          val loc = state.renameTable(from, to)
          reply(ex, 200, RestJson.obj().put("metadata-location", loc.toString).toString)
        }

      case _ => reply(ex, 404, """{"error":"no such route"}""")
    }
  } catch {
    // registry in-CAS conflicts are protocol-level outcomes, not server
    // errors: a lost register/rename race maps to 409/404 so the client
    // can translate it back to the catalog contract's analysis exception
    case e: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException =>
      reply(ex, 409, RestJson.obj().put("error", String.valueOf(e.getMessage)).toString)
    case e: org.apache.spark.sql.catalyst.analysis.NoSuchTableException =>
      reply(ex, 404, RestJson.obj().put("error", String.valueOf(e.getMessage)).toString)
    case e: Exception =>
      reply(ex, 500, RestJson.obj().put("error", String.valueOf(e.getMessage)).toString)
  }
}
