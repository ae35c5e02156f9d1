package streambench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable

/** Loopback bulk endpoint the session sink posts to through the real
  * `HttpTransport`. It checks Basic auth, splits each body into its
  * newline-terminated records and keeps what the correctness checks and
  * the latency metrics need:
  *
  *   - `tails`: the multiset of records received (backlog workloads);
  *   - `arrivalNs(seq)`: when the record carrying `"seq":n` arrived
  *     (paced workload), with a second arrival counted as a duplicate;
  *   - `posts`: (arrival time, record count) per post, so that every
  *     record of a post shares its post's arrival time.
  */
final class Receiver(threads: Int) {
  import Receiver._

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicLong
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"bench-receiver-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  server.setExecutor(pool)
  server.createContext(Path, (x: HttpExchange) => handle(x))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}$Path"

  @volatile private var seqMode = false
  @volatile var arrivalNs: AtomicLongArray = new AtomicLongArray(0)
  val tails = new ConcurrentHashMap[String, LongAdder]()
  val posts = new ConcurrentLinkedQueue[(Long, Long)]()
  val records = new AtomicLong
  val duplicates = new AtomicLong
  val malformed = new AtomicLong
  val rejected = new AtomicLong

  /** Forget everything received; `seqCapacity > 0` switches to per-seq
    * arrival recording for seqs `[0, seqCapacity)`. */
  def reset(seqCapacity: Int = 0): Unit = {
    seqMode = seqCapacity > 0
    arrivalNs = new AtomicLongArray(seqCapacity)
    tails.clear(); posts.clear()
    records.set(0); duplicates.set(0); malformed.set(0); rejected.set(0)
  }

  private def handle(x: HttpExchange): Unit = {
    try {
      val auth = x.getRequestHeaders.getFirst("Authorization")
      val body = x.getRequestBody.readAllBytes()
      val now = System.nanoTime()
      if (auth != ExpectedAuth) {
        rejected.incrementAndGet()
        x.sendResponseHeaders(401, -1)
      } else {
        val n = if (seqMode) recordSeqs(new String(body, StandardCharsets.UTF_8), now)
          else recordTails(new String(body, StandardCharsets.UTF_8))
        posts.add((now, n.toLong))
        records.addAndGet(n)
        x.sendResponseHeaders(200, -1)
      }
    } finally x.close()
  }

  private def recordTails(s: String): Int = {
    val local = mutable.HashMap.empty[String, Long]
    var from = 0
    var n = 0
    var nl = s.indexOf('\n', from)
    while (nl >= 0) {
      val rec = s.substring(from, nl + 1)
      local.update(rec, local.getOrElse(rec, 0L) + 1)
      n += 1
      from = nl + 1
      nl = s.indexOf('\n', from)
    }
    if (from < s.length) malformed.incrementAndGet()
    local.foreach { case (k, c) => tails.computeIfAbsent(k, _ => new LongAdder).add(c) }
    n
  }

  private def recordSeqs(s: String, now: Long): Int = {
    val arr = arrivalNs
    var n = 0
    var i = s.indexOf(SeqKey)
    while (i >= 0) {
      var j = i + SeqKey.length
      var seq = 0L
      while (j < s.length && Character.isDigit(s.charAt(j))) { seq = seq * 10 + (s.charAt(j) - '0'); j += 1 }
      if (j == i + SeqKey.length || seq >= arr.length()) malformed.incrementAndGet()
      else if (!arr.compareAndSet(seq.toInt, 0L, now)) duplicates.incrementAndGet()
      n += 1
      i = s.indexOf(SeqKey, j)
    }
    n
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Receiver {
  val Path = "/bench/doc/_bulk"
  val User = "bench"
  val Password = "bench-secret"
  val SeqKey = "\"seq\":"
  private val ExpectedAuth = "Basic " +
    Base64.getEncoder.encodeToString(s"$User:$Password".getBytes(StandardCharsets.UTF_8))
}
