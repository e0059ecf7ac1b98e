package perfbench

import java.time.LocalDate

/** One row of the ingest table: partition date, key, version, value. */
final case class IngestRow(d: LocalDate, k: Long, ver: Long, v: Long) {
  def tsv: String = s"$d\t$k\t$ver\t$v\n"
}

/** Seeded insert batches for a ReplacingMergeTree table.
  *
  * Round `r` inserts `batchRows` distinct keys with version `r`: a
  * share `reuse` of them are keys inserted in earlier rounds (so the
  * fold replaces them), the rest are new. Versions grow with the round,
  * so the row a FINAL read must keep for a key is always its latest. A
  * key's date is a function of the key, so every version of a key lands
  * in the same partition. */
final class IngestGen(seed: Long, batchRows: Int, reuse: Double) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val keys = collection.mutable.ArrayBuffer.empty[Long]
  private var nextIdx = 0L
  private var round = 0L

  /** Distinct 31-bit keys: an odd multiplier is a bijection mod 2^31. */
  private def keyOf(idx: Long): Long =
    ((idx + (seed & 0xffffL)) * 0x9E3779B1L) & 0x7FFFFFFFL

  def nextBatch(): Seq[IngestRow] = {
    round += 1
    val reused = math.min(keys.size, (batchRows * reuse).toInt)
    val picked = collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < reused) picked += keys(rnd.nextInt(keys.size))
    val fresh = (0 until batchRows - reused).map { _ =>
      val k = keyOf(nextIdx); nextIdx += 1; keys += k; k
    }
    (picked.toSeq ++ fresh).map(k =>
      IngestRow(IngestGen.dateOf(k), k, round, rnd.nextLong(1000000L)))
  }
}

object IngestGen {
  def dateOf(k: Long): LocalDate =
    LocalDate.of(2020, 1 + (k % 4).toInt, 1 + ((k / 4) % 28).toInt)
}

/** The exact result of the ingest segment's FINAL read, kept up to date
  * batch by batch: the count of live keys and the sums of their
  * partition months (yyyymm), values and versions,
  * where a key's live row is its highest-version row (the last one
  * inserted on a version tie). */
final class ReplacingFinal {
  private val live = collection.mutable.HashMap.empty[Long, IngestRow]

  def add(rows: Seq[IngestRow]): Unit = rows.foreach { r =>
    live.get(r.k) match {
      case Some(old) if old.ver > r.ver =>
      case _ => live(r.k) = r
    }
  }

  /** `ReplacingFinal.Query`'s one result row as TSV. */
  def expectedTsv: String = {
    val rs = live.values
    val months = rs.map(r => r.d.getYear * 100L + r.d.getMonthValue).sum
    s"${rs.size}\t$months\t${rs.map(_.v).sum}\t${rs.map(_.ver).sum}\n"
  }
}

object ReplacingFinal {
  val Table = "ingest_rmt"
  val Create: String = s"CREATE TABLE $Table (d Date, k UInt32, ver UInt32, v UInt32) " +
    "ENGINE = ReplacingMergeTree(d, k, 8192, ver)"
  val Query: String = s"SELECT count() AS c, sum(toYYYYMM(d)) AS sm, " +
    s"sum(v) AS sv, sum(ver) AS sver FROM $Table FINAL"
}
