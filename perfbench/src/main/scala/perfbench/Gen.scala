package perfbench

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** Seeded input generation shared by the CDC workloads: a vocabulary of
  * pseudo-words, source rows, and the ledger of every row version the
  * generator has made visible to the program. */
final class Gen(seed: Long) {
  val rnd = new scala.util.Random(seed)

  /** 600 pronounceable pseudo-words; the same seed gives the same words. */
  val vocab: IndexedSeq[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val out = mutable.LinkedHashSet[String]()
    while (out.size < 600) {
      val syl = 2 + rnd.nextInt(3)
      out += (0 until syl).map(_ => s"${cons(rnd.nextInt(cons.length))}${vows(rnd.nextInt(vows.length))}").mkString
    }
    out.toIndexedSeq
  }

  /** Zipf-ish word pick: a few topic words recur, most are rare. */
  def word(r: scala.util.Random = rnd): String = {
    val u = r.nextDouble()
    vocab(math.min(vocab.size - 1, (vocab.size * u * u * u).toInt))
  }
  def words(n: Int, r: scala.util.Random = rnd): String = Seq.fill(n)(word(r)).mkString(" ")

  /** Strictly increasing change timestamps, one per generated row version,
    * so every delta lies strictly above the previous watermark. */
  private var clockMs = LocalDateTime.of(2024, 1, 1, 0, 0).toInstant(ZoneOffset.UTC).toEpochMilli +
    (seed % 1000) * 60000L
  def nextTs(): Timestamp = { clockMs += 1 + rnd.nextInt(3); new Timestamp(clockMs) }
}

/** One source row version as the generator wrote it. */
final case class RowVersion(table: String, id: Long, ts: Timestamp, name: String, qty: Int,
    amount: java.math.BigDecimal, note: String) {
  def key: (String, Long, String) = (table, id, Gen.iso(ts))
}

object Gen {
  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  /** The program's JSON timestamp rendering (UTC session, microseconds). */
  def iso(ts: Timestamp): String = ts.toInstant.atOffset(ZoneOffset.UTC).toLocalDateTime.format(isoFmt)
}

/** Every row version made visible to the program, and each table's max
  * change time. */
final class Ledger {
  val versions = mutable.ArrayBuffer[RowVersion]()
  val maxTs = mutable.Map[String, Timestamp]()
  def add(v: RowVersion): Unit = {
    versions += v
    if (maxTs.get(v.table).forall(_.before(v.ts))) maxTs(v.table) = v.ts
  }
}
