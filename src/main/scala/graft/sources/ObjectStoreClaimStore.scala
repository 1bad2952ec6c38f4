package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import java.time.Duration

/** OBJECT-STORE port of [[DeltaLite.CommitClaimStore]] — the real
  * conditional-PUT backend the trait's contract was designed around.
  * Speaks the S3-style HTTP surface every major object store exposes:
  *
  *   - claim  = `PUT /<bucket>/<key>` with `If-None-Match: *` — the
  *     server accepts the object only when the key does not exist, so
  *     exactly ONE racing writer wins and a won object is never
  *     replaced (native on S3 since 2024-08; GCS spells it
  *     `x-goog-if-generation-match: 0`, Azure uses the same
  *     `If-None-Match: *` ETag form — one header swap each);
  *   - readImmutable = `GET`, exists = `HEAD`;
  *   - listLog = `GET /<bucket>?list-type=2&prefix=<dir>/` parsing the
  *     ListObjectsV2 `<Key>` entries (S3's list XML; delimiter-free —
  *     the log is flat);
  *   - deleteLog = `DELETE` (retention cleanup only).
  *
  * FAILURE MAPPING is the trait's recovery contract, applied to HTTP
  * reality: `412 Precondition Failed` / `409` = the known loss →
  * `FileAlreadyExistsException` (the one claim-and-retry loop,
  * [[DeltaLite.claimLoop]], owns it and applies the commit's lost-race
  * rule: reapply an append, rebase a rewrite, decline the rest); an I/O
  * error or timeout ON THE PUT = the PUT may or may not have landed →
  * [[DeltaLite.AmbiguousClaimException]], which the engine resolves by
  * read-back compare at the commit boundary; 5xx after send is the
  * same ambiguity (the store may have applied before failing to
  * respond). Errors on GET/HEAD/LIST are plain IOExceptions — reads
  * are idempotent, the engine's bounded re-read loops own them.
  *
  * Keys: the engine addresses log artifacts by filesystem `Path`; the
  * store maps a path to the key `<keyPrefix><absolute path>` —
  * content-free, collision-free, and reversible. Data-plane artifacts
  * (parquet) never pass through here — see the plane-split note on
  * [[DeltaLite.CommitClaimStore]].
  *
  * Auth is carried by `extraHeaders` (a SigV4 signer or a bearer token
  * injector slots in without touching the protocol logic); the suite
  * exercises this class end-to-end against a local conditional-PUT
  * server speaking the same surface — including through the
  * flaky-weather injection wrapper — so the S3 move is endpoint +
  * signature, not engine work. */
final class HttpObjectStoreClaimStore(endpoint: String, bucket: String,
    keyPrefix: String = "",
    extraHeaders: Map[String, String] = Map.empty,
    requestTimeout: Duration = Duration.ofSeconds(30))
    extends DeltaLite.CommitClaimStore {

  private val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(requestTimeout).build()

  private def key(target: Path): String =
    keyPrefix + target.toAbsolutePath.normalize().toString.stripPrefix("/")

  private def objectUri(k: String): URI = {
    val enc = k.split('/').map(seg =>
      java.net.URLEncoder.encode(seg, "UTF-8").replace("+", "%20"))
      .mkString("/")
    URI.create(s"$endpoint/$bucket/$enc")
  }

  private def base(uri: URI): HttpRequest.Builder = {
    val b = HttpRequest.newBuilder(uri).timeout(requestTimeout)
    extraHeaders.foreach { case (k, v) => b.header(k, v) }
    b
  }

  override def claim(target: Path, content: Array[Byte]): Unit = {
    val req = base(objectUri(key(target)))
      .header("If-None-Match", "*")
      .PUT(HttpRequest.BodyPublishers.ofByteArray(content))
      .build()
    val resp =
      try client.send(req, HttpResponse.BodyHandlers.discarding())
      catch {
        // the request may have been applied before the failure — the
        // definition of an ambiguous outcome
        case e: java.io.IOException =>
          throw new DeltaLite.AmbiguousClaimException(target, e)
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw new DeltaLite.AmbiguousClaimException(target, e)
      }
    resp.statusCode() match {
      case c if c >= 200 && c < 300 => ()
      case 409 | 412 =>
        throw new java.nio.file.FileAlreadyExistsException(
          target.toString)
      case c if c >= 500 =>
        // the store failed AFTER receiving the request — it may have
        // applied the write before erroring
        throw new DeltaLite.AmbiguousClaimException(target,
          new java.io.IOException(s"store returned $c"))
      case c =>
        // a definite 4xx (auth, bad request) — the PUT was rejected
        // before any state change; loud, not ambiguous
        throw new java.io.IOException(
          s"claim of $target rejected by the store: HTTP $c")
    }
  }

  override def readImmutable(target: Path): Seq[String] = {
    val resp = client.send(base(objectUri(key(target))).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    resp.statusCode() match {
      case 200 => resp.body().split("\n", -1).toSeq match {
        case init :+ "" => init // trailing newline is not an empty line
        case lines => lines
      }
      case 404 => throw new java.nio.file.NoSuchFileException(target.toString)
      case c => throw new java.io.IOException(
        s"read of $target failed: HTTP $c")
    }
  }

  override def exists(target: Path): Boolean = {
    val resp = client.send(
      base(objectUri(key(target)))
        .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.discarding())
    resp.statusCode() match {
      case 200 => true
      case 404 => false
      case c => throw new java.io.IOException(
        s"HEAD of $target failed: HTTP $c")
    }
  }

  override def listLog(dir: Path): Seq[String] = {
    // PAGINATED ListObjectsV2: real stores cap a page at ~1000 keys —
    // a single-request list silently truncates there, and a truncated
    // log listing means a stale latestVersion (wrong-snapshot reads)
    // and a permanently colliding writer (review finding). Loop on
    // IsTruncated/NextContinuationToken until the store says done.
    val prefix = key(dir) + "/"
    val names = Seq.newBuilder[String]
    var token: Option[String] = None
    var more = true
    while (more) {
      val uri = URI.create(s"$endpoint/$bucket?list-type=2&prefix=" +
        java.net.URLEncoder.encode(prefix, "UTF-8") +
        token.map(t => "&continuation-token=" +
          java.net.URLEncoder.encode(t, "UTF-8")).getOrElse(""))
      val resp = client.send(base(uri).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new java.io.IOException(
          s"list of $dir failed: HTTP ${resp.statusCode()}")
      val body = resp.body()
      // ListObjectsV2 <Key> entries; the log is flat, so the name is
      // the suffix after the prefix (deeper keys — multi-part
      // checkpoint "dirs" — surface as their first segment)
      names ++= KeyRe.findAllMatchIn(body).map(_.group(1))
        .map(xmlUnescape)
        .filter(_.startsWith(prefix))
        .map(_.stripPrefix(prefix).split('/').head)
        .filter(_.nonEmpty)
      val truncated = TruncRe.findFirstMatchIn(body)
        .exists(_.group(1).trim == "true")
      token = if (truncated)
        TokenRe.findFirstMatchIn(body).map(m => xmlUnescape(m.group(1)))
      else None
      more = truncated && token.isDefined
      if (truncated && token.isEmpty)
        throw new java.io.IOException(
          s"list of $dir truncated without a continuation token")
    }
    names.result().distinct
  }

  override def deleteLog(target: Path): Unit = {
    val resp = client.send(
      base(objectUri(key(target))).DELETE().build(),
      HttpResponse.BodyHandlers.discarding())
    // 404 is fine — deleteIfExists semantics
    if (resp.statusCode() >= 300 && resp.statusCode() != 404)
      throw new java.io.IOException(
        s"delete of $target failed: HTTP ${resp.statusCode()}")
  }

  private val KeyRe = "<Key>([^<]*)</Key>".r
  private val TruncRe = "<IsTruncated>([^<]*)</IsTruncated>".r
  private val TokenRe =
    "<NextContinuationToken>([^<]*)</NextContinuationToken>".r
  private def xmlUnescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&")
}
