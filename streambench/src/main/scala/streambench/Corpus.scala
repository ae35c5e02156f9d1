package streambench

import graft.Tables
import graft.operators.{CodecQueries, MsgCodec}
import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. The program only ever sees what these generate. */
object Corpus {
  val Types: Array[String] = Array("signup", "purchase", "view", "click", "error")

  /** The backlog corpus: an `events`-shaped table drawn from `seed` (five
    * event types, so ~20% `purchase` → `session`; strictly increasing ts;
    * `{"k": n, "id": event_id}` props, unique per message and
    * newline-terminated so that a bulk body splits into records), rendered to wire format by the program's own
    * `CodecQueries.rawMessages`. Returns the messages in `event_id` order. */
  def backlog(spark: SparkSession, seed: Long, n: Int): Array[String] = {
    val rnd = new SplittableRandom(seed)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = new java.util.ArrayList[Row](n)
    var tsMs = 1704067200000L // 2024-01-01T00:00:00Z
    var i = 0
    while (i < n) {
      tsMs += rnd.nextLong(1L, 60000L)
      rows.add(Row(i.toLong, new Timestamp(tsMs), rnd.nextLong(0L, 2000L),
        Types(rnd.nextInt(Types.length)), rnd.nextInt(100000) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}, "id": $i}""" + "\n"))
      i += 1
    }
    val events = spark.createDataFrame(rows, schema)
    Tables.withTableOverrides(Map("events" -> (() => events))) {
      CodecQueries.rawMessages(spark, "generated").select("event_id", "value").collect()
    }.sortBy(_.getLong(0)).map(_.getString(1))
  }

  /** The pipeline's routing rule seen from the producer: guard + module. */
  def isSession(m: String): Boolean =
    m.length > MsgCodec.HeaderLen && m.substring(0, MsgCodec.FieldLen).trim == "session"

  def tail(m: String): String = m.substring(MsgCodec.HeaderLen)

  /** `send_ts` parses the way `MsgCodec.parseSendTs` accepts it. */
  def hasSendTs(m: String): Boolean =
    m.length >= 2 * MsgCodec.FieldLen &&
      m.substring(MsgCodec.FieldLen, 2 * MsgCodec.FieldLen).trim.matches("-?[0-9]{1,18}")

  /** Wire format, producer side (the layout `MsgCodec.mkMsg` builds). */
  def wire(module: String, sendTsMs: Long, tail: String): String =
    graft.StreamThroughputBench.wireMsg(module, sendTsMs, tail)

  /** An open-loop schedule: `lowRate` msgs/s for `lowSec`, then `highRate`
    * msgs/s for `highSec`. Message `i` is due `dueNs(i)` after the schedule
    * starts; 9 in 10 are `session` (the rest `heartbeat`, dropped after
    * parse); tails are ~256-byte JSON docs carrying `seq` and the due time. */
  final class Schedule(val module: Array[String], val tails: Array[String],
      val dueNs: Array[Long], val lowCount: Int) {
    def size: Int = tails.length
    val sessions: Int = module.count(_ == "session")
  }

  val TailBytes = 256

  def schedule(seed: Long, lowRate: Int, lowSec: Double, highRate: Int, highSec: Double): Schedule = {
    val rnd = new SplittableRandom(seed ^ 0x5eed5eedL)
    val lowN = (lowRate * lowSec).toInt
    val n = lowN + (highRate * highSec).toInt
    val module = new Array[String](n)
    val tails = new Array[String](n)
    val due = new Array[Long](n)
    val alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
    var i = 0
    while (i < n) {
      due(i) =
        if (i < lowN) (i * 1e9 / lowRate).toLong
        else (lowSec * 1e9).toLong + ((i - lowN) * 1e9 / highRate).toLong
      module(i) = if (rnd.nextInt(10) == 0) "heartbeat" else "session"
      val head = s"""{"seq":$i,"due_us":${due(i) / 1000},"user":"u${rnd.nextInt(100000)}","pad":""""
      val pad = new StringBuilder
      while (head.length + pad.length + 3 < TailBytes) pad += alnum.charAt(rnd.nextInt(alnum.length))
      tails(i) = head + pad + "\"}\n"
      i += 1
    }
    new Schedule(module, tails, due, lowN)
  }
}
