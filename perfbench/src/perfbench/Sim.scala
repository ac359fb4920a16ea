package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ScheduledThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** GitHub REST API simulator serving a seeded [[Corpus]], run as its own
  * process so its CPU time stays out of the measured program's.
  *
  * Endpoints: the paged PR listing (`Link` rel="next"/"last", honouring
  * `per_page`, `page` and `state`), per-PR commits, commit detail,
  * reviews and issue comments (with weak ETags and `If-None-Match` →
  * 304), and the App-auth installation lookup and token exchange.
  * `GET /__sim/stats` returns the counters as JSON and is not counted.
  *
  * Threads: one accept/dispatch thread plus a pool of `nproc - 1`
  * (at most 3) that builds responses. A modeled delay is scheduled on
  * that pool, so a waiting response blocks neither the accept thread
  * nor a pool thread. Start the JVM with
  * `-Dsun.net.httpserver.nodelay=true`: otherwise Nagle plus delayed
  * ACK adds ~40 ms to every response.
  *
  * Usage: `Sim <seed> <repos> <prsPerRepo> <delayMs> <portFile>`.
  */
object Sim {

  val Classes: Seq[String] = Seq("list", "commits", "commit_detail", "reviews", "comments", "auth", "other")

  def main(args: Array[String]): Unit = {
    val Array(seed, repos, prs, delay, portFile) = args
    val sim = new Sim(new Corpus(seed.toLong, repos.toInt, prs.toInt), delay.toInt)
    sim.start()
    val tmp = java.nio.file.Paths.get(portFile + ".tmp")
    java.nio.file.Files.write(tmp, sim.port.toString.getBytes(UTF_8))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(portFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // serve until the parent closes our stdin (or kills us)
    while (System.in.read() >= 0) {}
    sim.stop()
  }
}

final class Sim(corpus: Corpus, delayMs: Int) {
  private val counters: Map[String, AtomicLong] =
    (Sim.Classes ++ Seq("not_modified", "bytes_out", "tokens_minted"))
      .map(_ -> new AtomicLong).toMap

  private val threads = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))
  private val pool = new ScheduledThreadPoolExecutor(threads, (r: Runnable) => {
    val t = new Thread(r, "sim-worker"); t.setDaemon(true); t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def port: Int = server.getAddress.getPort
  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }

  private val RepoPath = "^/repos/([^/]+/[^/]+)/(.*)$".r
  private val PullsOne = "^pulls/(\\d+)/(commits|reviews)$".r
  private val CommentsP = "^issues/(\\d+)/comments$".r
  private val CommitP = "^commits/([0-9a-f]+)$".r
  private val TokenP = "^/app/installations/(\\d+)/access_tokens$".r

  private def count(cls: String): Unit = counters(cls).incrementAndGet()

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&")).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> URLDecoder.decode(v, UTF_8))
        case _ => None
      }
    }.toMap

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    if (path == "/__sim/stats") {
      send(ex, 200, stats, Map.empty, delay = false)
      return
    }
    path match {
      case RepoPath(repo, rest) =>
        corpus.repoIndex(repo) match {
          case None => other(ex, 404, s"""{"message":"no repo $repo"}""")
          case Some(ri) => rest match {
            case "pulls" => count("list"); listPulls(ex, repo, ri)
            case PullsOne(n, "commits") if valid(n) =>
              count("commits"); cacheable(ex, corpus.commitsJson(ri, n.toInt))
            case PullsOne(n, "reviews") if valid(n) =>
              count("reviews"); cacheable(ex, corpus.reviewsJson(ri, n.toInt))
            case CommentsP(n) if valid(n) =>
              count("comments"); cacheable(ex, corpus.commentsJson(ri, n.toInt))
            case CommitP(sha) =>
              corpus.parseSha(sha) match {
                case Some((`ri`, n, c)) if n >= 1 && n <= corpus.prsPerRepo &&
                    c >= 1 && c <= corpus.commitCount(ri, n) =>
                  count("commit_detail"); cacheable(ex, corpus.commitDetailJson(ri, n, c))
                case _ => other(ex, 404, s"""{"message":"no commit $sha"}""")
              }
            case "installation" =>
              count("auth")
              send(ex, 200, s"""{"id":${1000 + ri}}""", Map.empty)
            case _ => other(ex, 404, s"""{"message":"not found: $path"}""")
          }
        }
      case TokenP(id) if ex.getRequestMethod == "POST" =>
        count("auth"); count("tokens_minted")
        val expires = java.time.Instant.now.plusSeconds(3600).truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
        send(ex, 201, s"""{"token":"tok-$id-${counters("tokens_minted").get}","expires_at":"$expires"}""", Map.empty)
      case _ => other(ex, 404, s"""{"message":"not found: $path"}""")
    }
  }

  private def valid(n: String): Boolean = n.toIntOption.exists(i => i >= 1 && i <= corpus.prsPerRepo)

  private def other(ex: HttpExchange, status: Int, body: String): Unit = {
    count("other"); send(ex, status, body, Map.empty)
  }

  private def listPulls(ex: HttpExchange, repo: String, ri: Int): Unit = {
    val p = params(ex)
    val perPage = p.get("per_page").flatMap(_.toIntOption).filter(_ > 0).map(math.min(_, 100)).getOrElse(30)
    val page = p.get("page").flatMap(_.toIntOption).filter(_ > 0).getOrElse(1)
    val state = p.getOrElse("state", "open")
    val all = (1 to corpus.prsPerRepo).filter(n => state == "all" || corpus.isOpenState(ri, n) == state)
    val lastPage = math.max(1, (all.size + perPage - 1) / perPage)
    val body = all.slice((page - 1) * perPage, page * perPage)
      .map(corpus.prJson(ri, _)).mkString("[", ",", "]")
    def link(pg: Int) =
      s"<http://127.0.0.1:$port/repos/$repo/pulls?state=$state&per_page=$perPage&page=$pg>"
    val rels = (if (page < lastPage) Seq(s"""${link(page + 1)}; rel="next"""") else Nil) ++
      Seq(s"""${link(lastPage)}; rel="last"""")
    send(ex, 200, body, Map("Link" -> rels.mkString(", ")))
  }

  private def cacheable(ex: HttpExchange, body: String): Unit = {
    val tag = "W/\"" + java.lang.Long.toHexString(Corpus.mix(body.hashCode.toLong)) + "\""
    if (Option(ex.getRequestHeaders.getFirst("If-None-Match")).contains(tag)) {
      count("not_modified")
      send(ex, 304, "", Map("ETag" -> tag))
    } else send(ex, 200, body, Map("ETag" -> tag))
  }

  private def send(ex: HttpExchange, status: Int, body: String, headers: Map[String, String],
      delay: Boolean = true): Unit = {
    val bytes = body.getBytes(UTF_8)
    val reply: Runnable = () => {
      try {
        val h = ex.getResponseHeaders
        h.set("Content-Type", "application/json")
        h.set("X-RateLimit-Remaining", "4999")
        headers.foreach { case (k, v) => h.set(k, v) }
        if (status == 304) ex.sendResponseHeaders(304, -1)
        else {
          ex.sendResponseHeaders(status, bytes.length)
          ex.getResponseBody.write(bytes)
        }
        counters("bytes_out").addAndGet(bytes.length)
      } finally ex.close()
    }
    if (delay && delayMs > 0) pool.schedule(reply, delayMs.toLong, TimeUnit.MILLISECONDS)
    else reply.run()
  }

  def stats: String =
    counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${v.get}""" }.mkString("{", ",", "}")
}
