package graft.functions

/** Grisu3 shortest-digit generation for BINARY32, ported from the fmt
  * library's grisu implementation that DuckDB vendors (r14 float-render
  * sweep: duck's FLOAT→VARCHAR is float-shortest for ~99.3% of values
  * and falls back to the DOUBLE-shortest digits of the widened float on
  * grisu certification failure — 283 of 40k random floats; plain
  * float-shortest rendering mismatched exactly those). The CERTIFICATION
  * CONDITIONS therefore matter as much as the digits: a failure set
  * different from fmt's would emit the right digits on the wrong
  * inputs. Returns None on certification failure — the caller renders
  * the widened double instead (duck's fallback path).
  *
  * Everything is uint64 arithmetic on Scala Longs
  * (java.lang.Long.compareUnsigned / divideUnsigned); the cached powers
  * of 10 (10^-348 … 10^340 step 8, round-to-nearest 64-bit
  * significands) are generated exactly at class init with BigInteger —
  * bit-identical to fmt's static table. */
object Grisu32 {
  private final val POW10: Array[Long] = {
    val a = new Array[Long](20)
    a(0) = 1L
    var i = 1
    while (i < 20) { a(i) = a(i - 1) * 10L; i += 1 }
    a
  }

  // cached powers 10^k, k = -348 + 8*i, as (significand, binary exponent):
  // f * 2^e ≈ 10^k with f in [2^63, 2^64)
  private final val CACHE_FIRST = -348
  private final val CACHE_STEP = 8
  private final val (cacheSig, cacheExp) = {
    val n = (340 - CACHE_FIRST) / CACHE_STEP + 1
    val sig = new Array[Long](n)
    val ex = new Array[Int](n)
    val two = java.math.BigInteger.TWO
    var i = 0
    while (i < n) {
      val k = CACHE_FIRST + i * CACHE_STEP
      // e = floor(log2(10^k)) - 63; f = round(10^k * 2^-e)
      if (k >= 0) {
        val p = java.math.BigInteger.TEN.pow(k)
        val e = p.bitLength() - 64
        val f =
          if (e <= 0) p.shiftLeft(-e)
          else p.add(java.math.BigInteger.ONE.shiftLeft(e - 1)).shiftRight(e)
        sig(i) = f.longValue(); ex(i) = e
      } else {
        val den = java.math.BigInteger.TEN.pow(-k)
        // e = floor(-k * -log2(10)) ... derive from bit lengths: want
        // f = round(2^-e / 10^-k) in [2^63, 2^64): -e = 63 + bitlen(den)
        // or one less; try both and keep the in-range one
        var me = 63 + den.bitLength() // -e candidate
        var f = two.pow(me).add(den.shiftRight(1)).divide(den)
        if (f.bitLength() > 64) { me -= 1; f = two.pow(me).add(den.shiftRight(1)).divide(den) }
        else if (f.bitLength() < 64) { me += 1; f = two.pow(me).add(den.shiftRight(1)).divide(den) }
        sig(i) = f.longValue(); ex(i) = -me
      }
      i += 1
    }
    (sig, ex)
  }

  // fmt's get_cached_power: index via fixed-point 1/log2(10)
  private def cachedPower(minExponent: Int): (Long, Int, Int) = {
    val oneOverLog2_10 = 0x4d104d42L // round(2^32 / log2(10))
    var index = (((minExponent + 64 - 1) * oneOverLog2_10 +
      ((1L << 32) - 1)) >> 32).toInt
    index = (index - CACHE_FIRST - 1) / CACHE_STEP + 1
    val k = CACHE_FIRST + index * CACHE_STEP
    (cacheSig(index), cacheExp(index), k)
  }

  @inline private def mulHi(a: Long, b: Long): Long =
    Math.multiplyHigh(a, b) + ((a >> 63) & b) + ((b >> 63) & a)
  // fp multiply with fmt's rounding: hi + (bit 63 of lo)
  @inline private def mulF(af: Long, bf: Long): Long =
    mulHi(af, bf) + ((af * bf >>> 63) & 1L)

  private def countDigits(x: Long): Int = {
    var n = x; var d = 0
    while (n != 0) { n /= 10; d += 1 }
    if (d == 0) 1 else d
  }

  /** Shortest certified digits for a positive, finite, nonzero float.
    * Returns (digits, pointExp) with value = digits_as_int × 10^pointExp,
    * or None when grisu cannot certify (the duck fallback renders the
    * widened double). */
  def shortest(fl: Float): Option[(String, Int)] = {
    val bits = java.lang.Float.floatToRawIntBits(fl)
    val mant = (bits & 0x7fffff).toLong
    val biased = (bits >>> 23) & 0xff
    var vf = 0L; var ve = 0
    if (biased != 0) { vf = mant | 0x800000L; ve = biased.toInt - 127 - 23 }
    else { vf = mant; ve = -126 - 23 }
    // boundaries (pre-normalization): upper always (f<<1)+1 at e-1;
    // lower is closer when f is exactly the implicit bit (power of two)
    var upF = (vf << 1) + 1; var upE = ve - 1
    var loF = if (vf == 0x800000L) (vf << 2) - 1 else (vf << 1) - 1
    var loE = if (vf == 0x800000L) ve - 2 else ve - 1
    // normalize upper with one extra leading bit (fmt's normalize<1>):
    // shift until bit 62+1... i.e. until the (implicit<<1) pattern fills;
    // simplest equivalent: shift so the top bit (63) is set
    var sh = java.lang.Long.numberOfLeadingZeros(upF)
    upF <<= sh; upE -= sh
    // align lower to upper's exponent
    loF <<= loE - upE; loE = upE
    // normalize w
    var wF = vf; var wE = ve
    sh = java.lang.Long.numberOfLeadingZeros(wF)
    wF <<= sh; wE -= sh
    // scale by cached power: bring upper.e into [-60, -32]
    val (cF, cE, k) = cachedPower(-60 - (upE + 64))
    wF = mulF(wF, cF); wE = wE + cE + 64
    upF = mulF(upF, cF); upE = upE + cE + 64
    loF = mulF(loF, cF) // loE == upE by construction
    if (!(upE >= -60 && upE <= -32)) return None
    // double-conversion Grisu3 semantics (empirically duck's — the
    // fmt-narrowed variant certified 14 stops duck rejected): boundaries
    // WIDENED by one unit, digits generated from too_high, RoundWeed
    // with a unit that scales through the fractional phase, failure →
    // the caller's widened-double fallback (duck's observed fallback)
    val tooHigh = upF + 1L
    val tooLow = loF - 1L
    var unsafe = tooHigh - tooLow
    val distW = tooHigh - wF
    val oneF = 1L << -upE
    val mask = oneF - 1L
    var integral = tooHigh >>> -upE
    var fractional = tooHigh & mask
    var exp = countDigits(integral)
    val buf = new java.lang.StringBuilder(20)
    var unit = 1L
    def roundWeed(distHiW: Long, unsafeF: Long, rest0: Long, tenKappa: Long,
        u: Long): Boolean = {
      val small = distHiW - u
      val big = distHiW + u
      var rest = rest0
      while (java.lang.Long.compareUnsigned(rest, small) < 0 &&
          java.lang.Long.compareUnsigned(unsafeF - rest, tenKappa) >= 0 &&
          (java.lang.Long.compareUnsigned(rest + tenKappa, small) < 0 ||
            java.lang.Long.compareUnsigned(small - rest,
              rest + tenKappa - small) >= 0)) {
        buf.setCharAt(buf.length - 1, (buf.charAt(buf.length - 1) - 1).toChar)
        rest += tenKappa
      }
      if (java.lang.Long.compareUnsigned(rest, big) < 0 &&
          java.lang.Long.compareUnsigned(unsafeF - rest, tenKappa) >= 0 &&
          (java.lang.Long.compareUnsigned(rest + tenKappa, big) < 0 ||
            java.lang.Long.compareUnsigned(big - rest,
              rest + tenKappa - big) > 0)) return false
      java.lang.Long.compareUnsigned(2L * u, rest) <= 0 &&
        java.lang.Long.compareUnsigned(rest, unsafeF - 4L * u) <= 0
    }
    var result = -1 // -1 = generating, 1 = done, 2 = failed
    while (result == -1 && exp > 0) {
      val div = POW10(exp - 1)
      val digit = java.lang.Long.divideUnsigned(integral, div).toInt
      buf.append(('0' + digit).toChar)
      integral = java.lang.Long.remainderUnsigned(integral, div)
      exp -= 1
      val rest = (integral << -upE) + fractional
      if (java.lang.Long.compareUnsigned(rest, unsafe) < 0)
        result = if (roundWeed(distW, unsafe, rest, POW10(exp) << -upE, 1L)) 1 else 2
    }
    while (result == -1) {
      fractional *= 10L
      unit *= 10L
      unsafe *= 10L
      val digit = (fractional >>> -upE).toInt
      buf.append(('0' + digit).toChar)
      fractional &= mask
      exp -= 1
      if (java.lang.Long.compareUnsigned(fractional, unsafe) < 0)
        result = if (roundWeed(distW * unit, unsafe, fractional, oneF, unit)) 1 else 2
      else if (buf.length > 18) result = 2
    }
    if (result != 1) return None
    // strip trailing zeros the rounding may have left (fmt strips in the
    // writer); value = digits × 10^(exp - k)
    var digits = buf.toString
    var pointExp = exp - k
    while (digits.length > 1 && digits.charAt(digits.length - 1) == '0') {
      digits = digits.substring(0, digits.length - 1)
      pointExp += 1
    }
    if (digits.forall(_ == '0')) return None
    Some((digits, pointExp))
  }
}
