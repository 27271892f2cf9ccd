package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the dedup / text-analysis operators.
  *
  * Everything here is built from codegen'd higher-order functions
  * (transform/filter/aggregate) — no UDFs — so the whole dedup pipeline stays
  * inside WholeStageCodegen and runs as a narrow projection before the first
  * shuffle. Hashes are md5-hex (identical output in Spark and DuckDB), so the
  * oracle can reproduce signatures exactly.
  *
  * Mirrors (conceptually, not in code) the reference's scalar-helper layer
  * `vpts_csv.py:18-129`; the Sql variants generate the equivalent DuckDB
  * expression for the oracle.
  */
object TextFunctions {

  def words(text: Column): Column = split(text, " ")

  /** k-word shingles at 1-based positions; empty array when < k words. */
  def shingles(w: Column, k: Int): Column =
    when(size(w) >= k,
      transform(sequence(lit(1), size(w) - (k - 1)),
        i => array_join(slice(w, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  def shinglesSql(w: String, k: Int): String =
    s"list_transform(range(1, len($w) - ${k - 2}), i -> array_to_string(($w)[i:i+${k - 1}], ' '))"

  /** One minhash: min over shingles of the first 8 md5-hex chars under a
    * seed. Fixed-width lowercase hex compares lexicographically = numerically,
    * so the min is a string min in both engines.
    */
  def minhash(sh: Column, seed: Int): Column =
    array_min(transform(sh, x => substring(md5(concat(lit(s"$seed|"), x)), 1, 8)))

  /** Batched minhash building blocks: one md5 per (seed, shingle), then the
    * 32-hex digest is sliced into four independent 8-char hash slots — 4
    * minhash functions per md5 call. Materialize the md5 array as a column
    * once and derive all slots from it (md5 dominates signature cost; this
    * cuts it 4x and lets Catalyst reuse the array across bands).
    */
  def md5Array(sh: Column, seed: Int): Column =
    transform(sh, x => md5(concat(lit(s"$seed|"), x)))

  def minhashSlot(md5s: Column, slot: Int): Column =
    array_min(transform(md5s, h => substring(h, 1 + 8 * slot, 8)))

  def md5ArraySql(sh: String, seed: Int): String =
    s"list_transform($sh, s -> md5('$seed|' || s))"

  def minhashSlotSql(md5s: String, slot: Int): String =
    s"list_aggregate(list_transform($md5s, h -> substring(h, ${1 + 8 * slot}, 8)), 'min')"

  /** All 8 minhash slots in ONE fold over the shingles. Spark's higher-order
    * functions are interpreted (no codegen CSE) and CollapseProject re-inlines
    * shared columns, so per-slot formulations recompute md5 8x per shingle;
    * here each shingle's two md5 digests are lambda-bound and every slot
    * takes a substring of them — exactly 2 md5 calls per shingle.
    * Returns an 8-element array; element j == min over shingles of
    * substring(md5((j<4 ? 0 : 1)|shingle), 1 + 8*(j%4), 8) — same values as
    * [[minhashSlot]] over [[md5Array]].
    */
  def minhashSig8(sh: Column): Column = {
    val perShingle = transform(sh, x =>
      concat(md5(concat(lit("0|"), x)), md5(concat(lit("1|"), x))))
    val init = array_repeat(lit("~~~~~~~~"), 8) // '~' > any hex digit
    val folded = aggregate(perShingle, init,
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(7)), i => substring(h, i * 8 + 1, lit(8))),
        (a, b) => least(a, b)))
    when(size(sh) > 0, folded).otherwise(lit(null))
  }

  /** 16-bit SimHash over the word multiset: bit j is the majority vote of
    * md5-hex digit j's high bit across words (ties -> 0).
    */
  def simhash16(w: Column): Column = {
    val n = size(w)
    (1 to 16).map { j =>
      val ones = size(filter(w, s => substring(md5(s), j, 1) >= "8"))
      when(ones * 2 > n, lit(1L << (j - 1))).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def simhash16Sql(w: String): String =
    (1 to 16).map { j =>
      s"CASE WHEN 2*len(list_filter($w, s -> substring(md5(s), $j, 1) >= '8')) > len($w) THEN ${1L << (j - 1)} ELSE 0 END"
    }.mkString("(", " + ", ")")
}
