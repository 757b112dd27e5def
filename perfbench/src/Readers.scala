package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

/** A lookup the readers can send: the path under the store server and the
  * check its 200 body must pass.
  */
final case class Lookup(path: String, ok: String => Boolean)

/** Closed-loop HTTP readers against a [[graft.state.StoreHttp]] server: each
  * thread holds one keep-alive connection and sends its next lookup only
  * after the previous reply. A reply counts as failed unless it is a 200
  * whose body passes the lookup's check.
  */
final class Readers(port: Int, threads: Int, seed: Long, tracer: Tracer,
    next: SplittableRandom => Lookup) {
  private val stop = new AtomicBoolean(false)
  private val latencies = new ConcurrentLinkedQueue[(Long, Long)] // (start, ns)
  val sent = new AtomicLong
  val failed = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]

  private def loop(r: Int): Unit = {
    val rnd = new SplittableRandom(seed * 31 + r)
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    var i = 0L
    while (!stop.get()) {
      val q = next(rnd)
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${q.path}")).GET().build()
      val t0 = Clock.now()
      val good =
        try {
          val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
          resp.statusCode() == 200 && q.ok(resp.body())
        } catch { case _: Exception => false }
      val t1 = Clock.now()
      tracer.record(0L, s"lookup-$r-$i", "state", "lookup", t0, t1)
      latencies.add((t0, t1 - t0))
      sent.incrementAndGet()
      if (!good) { failed.incrementAndGet(); if (failures.size < 5) failures.add(q.path) }
      i += 1
    }
  }

  private var workers: Seq[Thread] = Nil

  def start(): Unit = {
    workers = (0 until threads).map { r =>
      val t = new Thread(() => loop(r), s"perfbench-reader-$r")
      t.setDaemon(true)
      t.start()
      t
    }
  }

  /** Stops the readers and waits for each to end. */
  def stopAndJoin(): Unit = { stop.set(true); workers.foreach(_.join()) }

  /** Latencies (ms) of the lookups sent at or after `from`. */
  def latenciesMs(from: Long): Seq[Double] =
    latencies.asScala.collect { case (t, ns) if t >= from => ns / 1e6 }.toVector
  def failedPaths: Seq[String] = failures.asScala.toVector
}
