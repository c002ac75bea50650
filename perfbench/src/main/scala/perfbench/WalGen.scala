package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

/** One generated change event: its LSN, target table and Debezium JSON
  * line. */
final case class WalEvent(lsn: Long, table: String, line: String)

/** Payload image of one row; `id` is the key. */
final case class Image(id: Long, v: Long, note: String)

object WalGen {
  /** Virtual clock origin (2024-01-01T00:00:00Z) and step. `ts_ms` comes
    * from this clock, never from the wall clock, so the lake's day layout
    * repeats from run to run. */
  val EpochMs = 1704067200000L
  val DayMs = 86400000L
  /** Pre-loaded state spans days [0, PreloadDays); streamed events start
    * on day PreloadDays and advance the clock by StepMs each. */
  val PreloadDays = 60
  val StepMs = 30000L
  /** Streamed LSNs start above every pre-loaded one. */
  val FirstLsn = 1000000000L

  val PayloadSchema: org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("val", "long").add("note", "string")

  def streamTs(seq: Long): Long = EpochMs + PreloadDays * DayMs + seq * StepMs

  private def image(i: Image): String =
    s"""{"id":${i.id},"val":${i.v},"note":"${i.note}"}"""

  def line(op: String, table: String, lsn: Long, tsMs: Long,
           before: Option[Image], after: Option[Image]): String =
    s"""{"before":${before.map(image).getOrElse("null")},""" +
      s""""after":${after.map(image).getOrElse("null")},"op":"$op",""" +
      s""""ts_ms":$tsMs,"source":{"schema":"public","table":"$table",""" +
      s""""lsn":$lsn,"txId":$lsn}}"""

  private val Words = Array("alpha", "bravo", "delta", "echo", "kilo", "lima",
    "oscar", "romeo", "sierra", "tango", "victor", "zulu")

  def note(rng: scala.util.Random): String =
    s"${Words(rng.nextInt(Words.length))}-${rng.nextInt(100000)}"

  /** Publish `lines` as one log segment atomically: written under a
    * `.`-prefixed name, which log readers skip, then renamed into place,
    * so no reader ever sees a torn line. Returns the segment's bytes. */
  def publish(dir: Path, name: String, lines: Seq[String]): Long = {
    val tmp = dir.resolve("." + name)
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}

/** Source of change events for one ingest workload. Implementations keep
  * the ground truth (the fold of everything they emitted) for the
  * correctness check. */
trait EventSource {
  def next(): WalEvent
  def emitted: Long
}

/** `cdc_upsert`: four tables with a pre-loaded state spread over
  * [[WalGen.PreloadDays]] virtual days. Inserts take new increasing keys;
  * updates and deletes mostly hit recent keys and sometimes old keys
  * uniformly, so merges touch a few recent days plus scattered old ones.
  * Keys are clustered by day: key order is time order. */
final class UpsertGen(seed: Long, val preloadKeys: Int) extends EventSource {
  import WalGen._
  val tables: Seq[String] = (0 until 4).map(i => s"t$i")
  private val rng = new scala.util.Random(seed)
  /** Current state per table: key -> image (deleted keys removed). */
  val state: Map[String, mutable.LongMap[Image]] =
    tables.map(_ -> mutable.LongMap.empty[Image]).toMap
  private val nextKey = mutable.Map(tables.map(_ -> (preloadKeys + 1).toLong): _*)
  private var seq = 0L

  val InsertShare = 0.45
  val DeleteShare = 0.05
  val OldKeyShare = 0.05
  val RecentKeys = 300

  /** Pre-loaded rows of `table`: (image, tsMs, lsn), keys 1..preloadKeys
    * spread evenly over the pre-load days. Recorded in the fold. */
  def preload(table: String): Seq[(Image, Long, Long)] = {
    val r = new scala.util.Random(seed * 31 + table.hashCode)
    val ti = tables.indexOf(table).toLong
    (1 to preloadKeys).map { k =>
      val img = Image(k.toLong, r.nextInt(1000000).toLong, note(r))
      val day = (k.toLong - 1) * PreloadDays / preloadKeys
      val ts = EpochMs + day * DayMs + (k % 1000) * 1000L
      state(table)(k.toLong) = img
      (img, ts, ti * preloadKeys + k)
    }
  }

  private def pickKey(t: String): Long = {
    val top = nextKey(t) - 1
    if (rng.nextDouble() < OldKeyShare) 1 + (rng.nextDouble() * top).toLong
    else math.max(1L, top - rng.nextInt(RecentKeys))
  }

  def next(): WalEvent = {
    val t = tables(rng.nextInt(tables.length))
    val lsn = FirstLsn + seq
    val ts = streamTs(seq)
    seq += 1
    val u = rng.nextDouble()
    val line =
      if (u < InsertShare) {
        val k = nextKey(t); nextKey(t) = k + 1
        val img = Image(k, rng.nextInt(1000000).toLong, note(rng))
        state(t)(k) = img
        WalGen.line("c", t, lsn, ts, None, Some(img))
      } else if (u < InsertShare + DeleteShare) {
        val k = pickKey(t)
        val before = state(t).getOrElse(k, Image(k, 0L, "gone"))
        state(t).remove(k)
        WalGen.line("d", t, lsn, ts, Some(before), None)
      } else {
        val k = pickKey(t)
        val img = Image(k, rng.nextInt(1000000).toLong, note(rng))
        val before = state(t).get(k)
        state(t)(k) = img
        WalGen.line("u", t, lsn, ts, before, Some(img))
      }
    WalEvent(lsn, t, line)
  }

  def emitted: Long = seq
}

/** `cdc_append`: sixteen insert-only tables with Zipf-skewed popularity;
  * one row in a thousand (at fixed positions, so every run of a phase
  * holds the same number) names an invalid table and must be
  * dead-lettered. */
final class AppendGen(seed: Long) extends EventSource {
  import WalGen._
  val tables: Seq[String] = (0 until 16).map(i => f"a$i%02d")
  val PoisonTable = "bad-table"
  val PoisonEvery = 1000
  private val rng = new scala.util.Random(seed)
  private val cdf: Array[Double] = {
    val w = tables.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  /** Events per table (the poison table included) and the sum of their
    * keys: the expected read-back. */
  val counts: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val keySums: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  private var seq = 0L

  def next(): WalEvent = {
    val t =
      if (seq % PoisonEvery == PoisonEvery / 2) PoisonTable
      else {
        val u = rng.nextDouble()
        val i = cdf.indexWhere(_ >= u)
        tables(if (i < 0) tables.length - 1 else i)
      }
    val lsn = FirstLsn + seq
    val img = Image(seq + 1, rng.nextInt(1000000).toLong, note(rng))
    val line = WalGen.line("c", t, lsn, streamTs(seq), None, Some(img))
    seq += 1
    counts(t) += 1
    keySums(t) += img.id
    WalEvent(lsn, t, line)
  }

  def emitted: Long = seq
}

/** Result of one fixed-rate window. `lsns`/`schedMs` pair every event
  * with its segment's due time; `lateMs` is how late each segment was
  * published; `published` is (publish time, log lines so far) per
  * segment. */
final case class WindowLog(lsns: Array[Long], schedMs: Array[Double],
                           lateMs: Array[Double], published: Seq[(Double, Long)])

/** Single-thread open-loop load generator: publishes one segment every `segMs`
  * holding the events due in that slot, whatever the engine is doing. */
final class OpenLoop(dir: Path, src: EventSource, segMs: Int) {
  private var segNo = 0
  private var lines = 0L

  def nextSegmentName(): String = { segNo += 1; f"seg-$segNo%08d.jsonl" }
  def linesPublished: Long = lines

  /** Publish `n` events now as one segment; returns (events, bytes, publish time). */
  def burst(n: Int): (Seq[WalEvent], Long, Double) = {
    val evs = Seq.fill(n)(src.next())
    val b = WalGen.publish(dir, nextSegmentName(), evs.map(_.line))
    lines += n
    (evs, b, Clock.nowMs)
  }

  def run(rateEps: Double, seconds: Double): WindowLog = {
    val lsns = mutable.ArrayBuilder.make[Long]
    val sched = mutable.ArrayBuilder.make[Double]
    val late = mutable.ArrayBuffer.empty[Double]
    val published = mutable.ArrayBuffer.empty[(Double, Long)]
    val slots = math.max(1, math.round(seconds * 1000 / segMs).toInt)
    val t0 = Clock.nowMs + segMs
    var k = 0
    while (k < slots) {
      val due = t0 + k.toDouble * segMs
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val n = (math.floor((k + 1) * segMs * rateEps / 1000.0) -
        math.floor(k * segMs * rateEps / 1000.0)).toInt
      if (n > 0) {
        val evs = Seq.fill(n)(src.next())
        WalGen.publish(dir, nextSegmentName(), evs.map(_.line))
        lines += n
        val at = Clock.nowMs
        evs.foreach { e => lsns += e.lsn; sched += due }
        late += at - due
        published += (at -> lines)
      }
      k += 1
    }
    WindowLog(lsns.result(), sched.result(), late.toArray, published.toSeq)
  }
}
