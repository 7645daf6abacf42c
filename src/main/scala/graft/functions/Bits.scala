package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared 64-bit kernels with ONE definition each:
  *
  *  - the splitmix64 finalizer the deterministic synthetic media
  *    fixtures key their pixel/sample PRFs on
  *    ([[graft.operators.Images.syntheticPng]] and friends);
  *  - the pigeonhole Hamming band layout every 64-bit signature
  *    family builds and probes with — the Hamming band join behind
  *    the SimHash, image, audio and video pairs and drop sets and
  *    the join rewrite ([[graft.operators.Dedup.hammingNearDupPairs]],
  *    [[graft.operators.Dedup.hammingDupIds]]), the persisted Hamming state
  *    ([[graft.operators.Incremental.writeHammingState]]), the
  *    driver-built blocklist index
  *    ([[graft.operators.Dedup.hammingIndex]]) and its codegen probe
  *    ([[HammingNearSet]]).
  *
  * The exactness guarantee ("a pair within the Hamming budget shares
  * at least one whole band") only holds while a builder and its probe
  * band IDENTICALLY — defining every form here, side by side, is what
  * keeps them bit-for-bit in sync. A layout drift in any local copy
  * would produce SILENT false negatives in a dedup or blocklist gate.
  *
  * '''Band layout — STRIDED, not contiguous.''' Band `b` of `nBands`
  * is the gathered bit set `{b, b + nBands, b + 2·nBands, …}` (any
  * partition of the 64 positions preserves the pigeonhole argument,
  * since Hamming distance is a sum over bit positions). Contiguous
  * ranges are the textbook picture but break on real signatures,
  * whose bit ENTROPY is uneven by construction — a perceptual hash's
  * low bits can be near-constant across a corpus, and the band that
  * owns them degenerates into one giant bucket (measured on the audio
  * eHash at 30×: 127,665 of 127,910 distinct signatures shared ONE
  * low-bits bucket; Σ|bucket|² = 18.7e9 contiguous vs 43.6e6 strided
  * at 5 bands — a 68× candidate-mass gap, 430× at 9). Striding deals
  * every band a cross-section of the entropy.
  *
  * '''Band count''' ([[joinBands]]): the exact `maxHamming + 1`-band
  * layout while buckets stay ≥ 10 bits; beyond that the 1-error
  * multi-probe layout ([[probeBands]] wider bands, the probe side
  * also emitting each bucket's single-bit flips — exact because a
  * within-budget pair has a band with ≤ 1 differing bit when
  * `2 · nBands > maxHamming`).
  */
object Bits {

  /** splitmix64 finalizer (Steele/Lea/Flood, JDK SplittableRandom) —
    * the PRF behind every deterministic synthetic media fixture. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Bits in strided band `b` of `nBands` (= ceil((64 − b) / nBands)). */
  def bandWidthK(b: Int, nBands: Int): Int = (64 - b + nBands - 1) / nBands

  /** Strided band `b` of `sig` under an `nBands` layout: bit `i` of
    * the bucket is bit `b + i·nBands` of the signature. */
  def bandOfK(sig: Long, b: Int, nBands: Int): Long = {
    var x = 0L
    var i = 0
    var bit = b
    while (bit < 64) {
      x |= ((sig >>> bit) & 1L) << i
      i += 1
      bit += nBands
    }
    x
  }

  /** Band `b` under the exact `maxHamming + 1`-band layout — the form
    * the driver-built blocklist index and its codegen probe share. */
  def bandOf(sig: Long, b: Int, maxHamming: Int): Long =
    bandOfK(sig, b, maxHamming + 1)

  /** Band tag offset for the strided layout ("layout v1"): bands are
    * stored as `32 + b`. The pre-strided contiguous layout stored
    * bare 0-based bands (always < 32 since maxHamming < 32), so a
    * probe can DETECT persisted state written under the old layout
    * and refuse it instead of silently matching nothing
    * ([[graft.operators.Incremental.hammingDupIdsAgainstTable]]
    * checks this). */
  val LayoutV1Tag: Int = 32

  /** Packed (band, bucket) rows of a signature as one LONG each —
    * the [[LayoutV1Tag]]-offset band in the top 8 bits, bucket below
    * (bucket width ≤ 32 for nBands ≥ 2) — so banded joins key on a
    * single long. `probe` additionally emits every single-bit flip of
    * each bucket (the 1-error multi-probe side). Computed in ONE call
    * per row by the [[HammingBands]] expression: the equivalent
    * Column expression tree (64 gathered bits × 65 probe elements)
    * would blow the JIT method cap and run interpreted. */
  def packedBands(sig: Long, nBands: Int, probe: Boolean): Array[Long] = {
    val out = new Array[Long](if (probe) nBands + 64 else nBands)
    var idx = 0
    var b = 0
    while (b < nBands) {
      val base = bandOfK(sig, b, nBands)
      val tag = (LayoutV1Tag + b).toLong << 56
      out(idx) = tag | base
      idx += 1
      if (probe) {
        val w = bandWidthK(b, nBands)
        var i = 0
        while (i < w) {
          out(idx) = tag | (base ^ (1L << i))
          idx += 1
          i += 1
        }
      }
      b += 1
    }
    out
  }

  /** The band rows of `df`'s 64-bit signature column `sig` under the
    * [[joinBands]] layout: one row per packed (band, bucket) of
    * [[packedBands]], carrying `carry` (names of `df`) followed by
    * `band` INT and `bucket` BIGINT. The one definition every banded
    * Hamming join and the persisted Hamming state build and probe
    * with. `probeSide` marks the side that emits single-bit bucket
    * flips; they are emitted only when the layout needs them (fewer
    * bands than the exact `maxHamming + 1`), so on the exact layout
    * both sides band identically. A null signature yields no rows. */
  private[graft] def bandRows(df: DataFrame, sig: String, maxHamming: Int,
      probeSide: Boolean, carry: Seq[String]): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 32)")
    val nBands = joinBands(maxHamming)
    val bands = text.expr2col(HammingBands(text.col2expr(col(sig).cast("long")),
      nBands, probeSide && nBands < maxHamming + 1))
    val kept = carry.map(col)
    df.select(kept :+ explode(bands).as("__e"): _*)
      .select(kept ++ Seq(shiftrightunsigned(col("__e"), 56).cast("int").as("band"),
        col("__e").bitwiseAND(lit((1L << 56) - 1)).as("bucket")): _*)
  }

  /** True when `band` (a [[bandRows]] `band` value) is the FIRST band
    * in which signatures `a` and `b` meet in a [[bandRows]] join: equal
    * buckets, or on the multi-probe layout buckets at most one bit
    * apart. A band join that keeps a pair only there emits it once,
    * with no distinct. The one-band layout (`maxHamming` 0) meets in
    * its only band, whose packed number its 64-bit bucket overwrites. */
  private[graft] def firstMeeting(band: Column, a: Column, b: Column,
      maxHamming: Int): Column = {
    val nBands = joinBands(maxHamming)
    val slack = if (nBands < maxHamming + 1) 1 else 0
    val diff = a.cast("long").bitwiseXOR(b.cast("long"))
    def meets(i: Int): Column = {
      val mask = (i until 64 by nBands).foldLeft(0L)((m, bit) => m | (1L << bit))
      bit_count(diff.bitwiseAND(lit(mask))) <= slack
    }
    if (nBands == 1) lit(true)
    else band === (1 until nBands).foldLeft(when(meets(0), LayoutV1Tag)) { (first, i) =>
      first.when(meets(i), LayoutV1Tag + i)
    }
  }

  /** Smallest band count whose per-band error bound is ≤ 1 under
    * `maxHamming` (nBands · 2 > maxHamming) — the band count the
    * multi-probe layout needs for exactness. */
  def probeBands(maxHamming: Int): Int = maxHamming / 2 + 1

  /** The default band layout for Hamming JOINS at a given budget:
    * the exact `maxHamming + 1`-band layout while its buckets stay
    * ≥ 10 bits wide (maxHamming ≤ 5 — candidate mass n²·k/2¹⁰ is
    * healthy into the millions of distinct signatures), the 1-error
    * multi-probe layout beyond that (at maxHamming ≥ 6 the exact
    * layout's buckets collapse to ≤ 9 bits and the bucket JOIN goes
    * quadratic with a fat constant — measured 16× wall at 10× docs
    * before this routing existed). Structural, not data-dependent:
    * the collapse is a property of 64 bits / (maxHamming + 1), so no
    * measurement pass is needed to route. */
  def joinBands(maxHamming: Int): Int =
    if (64 / (maxHamming + 1) >= 10) maxHamming + 1 else probeBands(maxHamming)
}
