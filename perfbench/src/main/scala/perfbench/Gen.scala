package perfbench

import java.time.LocalDate

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.StructField
import org.apache.spark.unsafe.types.UTF8String

import graft.model.TableSpec

/** Deterministic Bitcoin-shaped values. Every value is a pure function
  * of (seed, stream, index, field), so a round's payload never depends
  * on the order in which earlier rounds were generated and the same
  * seed always yields byte-identical payloads.
  */
final class Draw(seed: Long, stream: Long) {
  private val base = Gen.mix(Gen.mix(seed) ^ Gen.mix(stream + 0x51ED27L))
  def apply(i: Long, field: Int): Long = Gen.mix(base + i * 0x9E37L + field)
  /** Uniform in [lo, hi). */
  def between(i: Long, field: Int, lo: Long, hi: Long): Long =
    lo + java.lang.Math.floorMod(apply(i, field), hi - lo)
  /** A 64-hex-digit identifier (the shape of a txid or block hash). */
  def hex64(i: Long, field: Int): String = {
    val sb = new java.lang.StringBuilder(64)
    var k = 0
    while (k < 4) {
      val s = java.lang.Long.toHexString(apply(i, field * 8 + k))
      var pad = 16 - s.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(s)
      k += 1
    }
    sb.toString
  }
}

object Gen {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Epoch = LocalDate.of(2015, 1, 1)
  def date(day: Int): String = Epoch.plusDays(day.toLong).toString
  /** ISO timestamp `second` seconds into `day`. */
  def time(day: Int, second: Int): String =
    f"${date(day)}T${second / 3600}%02d:${second / 60 % 60}%02d:${second % 60}%02d"

  /** One JSON line in the field order of the declared source schema —
    * the shape of one element of Dune's `result.rows`.
    */
  def json(fields: Array[StructField], values: Array[Any]): String = {
    val sb = new java.lang.StringBuilder(256)
    sb.append('{')
    var k = 0
    while (k < fields.length) {
      if (k > 0) sb.append(',')
      sb.append('"').append(fields(k).name).append("\":")
      values(k) match {
        case s: String => sb.append('"').append(s).append('"')
        case v => sb.append(v)
      }
      k += 1
    }
    sb.append('}').toString
  }
}

/** Spark's `xxhash64(c1, ..., cn)` (seed 42, each column chained into
  * the next) recomputed from the generator's values, so the expected
  * checksum is known without asking the program under test.
  */
object RowHash {
  def apply(values: Array[Any], idx: Array[Int]): Long = {
    var h = 42L
    var k = 0
    while (k < idx.length) {
      h = values(idx(k)) match {
        case null => h
        case s: String => XXH64.hashUTF8String(UTF8String.fromString(s), h)
        case d: Double =>
          XXH64.hashLong(java.lang.Double.doubleToLongBits(
            if (d == -0.0d) 0.0d else d), h)
        case l: Long => XXH64.hashLong(l, h)
        case other => sys.error(s"unhashable value $other")
      }
      k += 1
    }
    h
  }
}

/** The columns a table is checked on: the spec's rename targets (its
  * key and value columns, in rename order) and where each one sits in
  * the source row.
  */
final class Columns(val spec: TableSpec) {
  val fields: Array[StructField] = spec.sourceSchema.get.fields
  val targets: Seq[String] = spec.renames.map(_._2)
  val hashIdx: Array[Int] =
    spec.renames.map { case (s, _) => fields.indexWhere(_.name == s) }.toArray
  val key: String = spec.pKeys.head
  def hash(values: Array[Any]): Long = RowHash(values, hashIdx)
  def json(values: Array[Any]): String = Gen.json(fields, values)
}
