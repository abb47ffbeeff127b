package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.dv3f.{Dv3fConfig, StagingTable}

/** Seeded generator of DV3F API payloads for the 119 (scope, code)
  * partitions, in the file layout the `dv3f` source reads: a first page
  * `<scope>_<code>.json` and continuation pages under `pages/`, chained
  * by `next`. One result row per (partition, year) carries one wide
  * `<metric>_cod<NNN>` field per (indicator, typology code).
  *
  * Revisions: in round r a seeded share of partitions gets new values
  * for every cell; no key ever appears or disappears (`nbtrans` is never
  * null, so every (year, code, typology) row exists in every round).
  *
  * The generator carries its own expected answers, computed in plain
  * Scala: row counts, and an order-independent digest of the staging
  * rows (uid = java.security SHA-256 over annee‖code‖cod) that matches
  * Spark's `xxhash64` over the declared staging columns.
  */
final class Dv3fGen(seed: Long, val years: Int, val typologies: Int,
    pageRows: Int, nullShare: Double, reviseShare: Double) {

  val partitions: Seq[(String, String)] = Dv3fConfig.defaultScopes
  val yearNames: Seq[String] = (0 until years).map(y => (2010 + y).toString)
  val codNames: Seq[String] = (0 until typologies).map(i => (111 + 7 * i).toString)
  private val metrics = Dv3fConfig.departement.metricNames

  /** Version (last revision round) of each partition's values. */
  private val version = Array.fill(partitions.size)(0)

  /** Long cells (rows the source emits, nulls included) per round. */
  val cells: Long = partitions.size.toLong * years * typologies * metrics.size

  private def mix(xs: Long*): Long = {
    var h = seed * 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      h ^= x + 0x632BE59BD9B4E5L + (h << 6) + (h >>> 2)
      h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 31
    }
    h
  }
  private def unit(xs: Long*): Double = (mix(xs: _*) >>> 11).toDouble / (1L << 53)

  /** Cell value, or None for an explicit JSON null. */
  def value(p: Int, y: Int, c: Int, m: Int): Option[Double] = {
    val v = version(p)
    if (m > 0 && unit(p, y, c, m, 7) < nullShare) None
    else if (m == 0) Some(math.floor(unit(p, y, c, m, v, 1) * 5000).toDouble)
    else Some(math.round(unit(p, y, c, m, v, 2) * 1e8) / 100.0 + 1.0)
  }

  def lib(code: String): String = s"Zone $code"

  /** Advance to round `r` (r >= 1): revise a seeded share of partitions.
    * Returns the indexes of the revised partitions.
    */
  def revise(r: Int): Seq[Int] = {
    val revised = partitions.indices.filter(p => unit(p, r, 99) < reviseShare)
    revised.foreach(p => version(p) = r)
    revised
  }

  private def tableOf(p: Int): StagingTable = Dv3fConfig.route(partitions(p)._1)

  /** Write the payload files of `which` partitions under `dir`. */
  def write(dir: File, which: Seq[Int] = partitions.indices): Unit = {
    val pages = new File(dir, "pages")
    pages.mkdirs()
    which.foreach { p =>
      val (scope, code) = partitions(p)
      val t = tableOf(p)
      val chunks = (0 until years).grouped(pageRows).toSeq
      chunks.zipWithIndex.foreach { case (ys, i) =>
        val sb = new StringBuilder(64 * 1024)
        val next =
          if (i + 1 < chunks.size) "\"pages/" + s"${scope}_${code}_${i + 2}.json\"" else "null"
        val prev =
          if (i == 0) "null" else if (i == 1) s"\"${scope}_$code.json\""
          else "\"pages/" + s"${scope}_${code}_$i.json\""
        sb.append(s"""{"count": $years, "next": $next, "previous": $prev, "results": [""")
        ys.zipWithIndex.foreach { case (y, k) =>
          if (k > 0) sb.append(',')
          sb.append(s"""{"annee": "${yearNames(y)}", "${t.idVars(1)}": "$code", """ +
            s""""${t.idVars(2)}": "${lib(code)}"""")
          var c = 0
          while (c < typologies) {
            var m = 0
            while (m < metrics.size) {
              sb.append(s""", "${metrics(m)}_cod${codNames(c)}": """)
              value(p, y, c, m) match {
                case None => sb.append("null")
                case Some(d) if m == 0 => sb.append(d.toLong)
                case Some(d) => sb.append(java.lang.Double.toString(d))
              }
              m += 1
            }
            c += 1
          }
          sb.append('}')
        }
        sb.append("]}")
        val f = if (i == 0) new File(dir, s"${scope}_$code.json")
          else new File(pages, s"${scope}_${code}_${i + 1}.json")
        Files.write(f.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
      }
    }
  }

  def rowsPerPartition: Long = years.toLong * typologies

  private val sha = MessageDigest.getInstance("SHA-256")
  def uid(annee: String, code: String, cod: String): String =
    sha.digest((annee + code + cod).getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** (rows, xor of row hashes, sum of low 32 bits of row hashes): Spark's
    * `xxhash64` (seed 42, nulls skipped) over the staging columns in
    * declared order, folded order-independently.
    */
  def expectedDigest(t: StagingTable): Digest = {
    var n = 0L
    var xor = 0L
    var low = 0L
    partitions.indices.filter(p => tableOf(p) == t).foreach { p =>
      val code = partitions(p)._2
      for (y <- 0 until years; c <- 0 until typologies) {
        val cod = codNames(c)
        var h = 42L
        def str(s: String): Unit = h = XXH64.hashUTF8String(UTF8String.fromString(s), h)
        str(uid(yearNames(y), code, cod)); str(yearNames(y)); str(code); str(lib(code)); str(cod)
        var m = 0
        while (m < metrics.size) {
          value(p, y, c, m).foreach { d =>
            h = if (m == 0) XXH64.hashLong(d.toLong, h)
              else XXH64.hashLong(java.lang.Double.doubleToLongBits(d), h)
          }
          m += 1
        }
        n += 1; xor ^= h; low += h & 0xFFFFFFFFL
      }
    }
    Digest(n, xor, low)
  }

  /** Per-year (row count, sum of nbtrans) for one table. */
  def byYear(t: StagingTable): Map[String, (Long, Long)] =
    yearNames.indices.map { y =>
      val ps = partitions.indices.filter(p => tableOf(p) == t)
      val sum = ps.map(p => (0 until typologies).map(c => value(p, y, c, 0).get.toLong).sum).sum
      yearNames(y) -> (ps.size.toLong * typologies, sum)
    }.toMap

  /** Per-typology (row count, sum of nbtrans, max of pxm2_median). */
  def byTypology(t: StagingTable): Map[String, (Long, Long, Option[Double])] = {
    val ps = partitions.indices.filter(p => tableOf(p) == t)
    val mi = metrics.indexOf("pxm2_median")
    codNames.indices.map { c =>
      val cells = for (p <- ps; y <- 0 until years) yield p -> y
      val vals = cells.flatMap { case (p, y) => value(p, y, c, mi) }
      codNames(c) -> (cells.size.toLong,
        cells.map { case (p, y) => value(p, y, c, 0).get.toLong }.sum,
        if (vals.isEmpty) None else Some(vals.max))
    }.toMap
  }

  /** Top-`k` codes of a table by the latest year's nbtrans total, ties
    * broken by code.
    */
  def topCodes(t: StagingTable, k: Int): Seq[(String, Long)] = {
    val y = years - 1
    partitions.indices.filter(p => tableOf(p) == t).map { p =>
      partitions(p)._2 -> (0 until typologies).map(c => value(p, y, c, 0).get.toLong).sum
    }.sortBy { case (code, n) => (-n, code) }.take(k)
  }

  /** Rows whose values a revision of `revised` partitions changed. */
  def changedRows(revised: Seq[Int]): Long = revised.size * rowsPerPartition
}

final case class Digest(rows: Long, xor: Long, low: Long)
