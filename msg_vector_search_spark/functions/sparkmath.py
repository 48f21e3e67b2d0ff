"""Driver-side twins of Spark's ``round`` and ``log`` on doubles.

The driver serve path (``plans/driver_serve.py``) scores in numpy and
must emit the doubles the Spark plans emit, bit for bit, so the two
Spark expressions it leans on are replayed here the way
``functions.hashing`` replays ``xxhash64``:

* :func:`round_half_up` is ``F.round(x, nd) + 0.0``.  Catalyst rounds
  ``BigDecimal.valueOf(x)`` — the double's SHORTEST decimal repr — with
  HALF_UP and converts back, so a double whose repr is an exact tie
  one digit past the grid (``0.5165865``) rounds up even though its
  binary value sits just below the tie.  Rounding the binary value
  (``similarity._np_round6``) differs on exactly those ties.
* :func:`strict_log` is ``F.log(x)``: Catalyst's ``Log`` calls
  ``StrictMath.log``, i.e. fdlibm's ``__ieee754_log``, ported here
  line for line.  ``math.log`` (the platform libm) differs from it in
  the last bit on a few percent of inputs.

Parity with the JVM is pinned by ``tests/test_driver_twins.py``.
"""

from __future__ import annotations

import struct
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np

_CTX = Context(prec=800)


def _round_one(v: float, nd: int) -> float:
    if v != v or v in (float("inf"), float("-inf")):
        return v
    q = Decimal(repr(v)).quantize(Decimal(1).scaleb(-nd),
                                  rounding=ROUND_HALF_UP, context=_CTX)
    return float(q) + 0.0


def round_half_up(x, nd: int):
    """Spark ``F.round(x, nd) + 0.0`` for a double or a float64 array.

    Arrays take a numpy fast path: away from a decimal tie the binary
    value and its shortest repr round to the same grid point, and
    ``floor(|x| * 10**nd + 0.5) / 10**nd`` is the double nearest that
    point, which is what ``BigDecimal.doubleValue`` returns.  Values
    within 1e-5 grid units of a tie, or too large for the scaled value
    to resolve that window, go through the exact Decimal replay."""
    if np.ndim(x) == 0:
        return _round_one(float(x), nd)
    a = np.asarray(x, dtype=np.float64)
    scale = 10.0 ** nd
    y = np.abs(a) * scale
    with np.errstate(invalid="ignore"):
        frac = y - np.floor(y)
        exact = np.flatnonzero(~(y < 2.0 ** 31)
                               | (np.abs(frac - 0.5) < 1e-5))
    out = np.copysign(np.floor(y + 0.5), a) / scale + 0.0
    for i in exact:
        out[i] = _round_one(float(a[i]), nd)
    return out


_LN2_HI = 6.93147180369123816490e-01
_LN2_LO = 1.90821492927058770002e-10
_TWO54 = 1.80143985094819840000e+16
_LG1 = 6.666666666666735130e-01
_LG2 = 3.999999999940941908e-01
_LG3 = 2.857142874366239149e-01
_LG4 = 2.222219843214978396e-01
_LG5 = 1.818357216161805012e-01
_LG6 = 1.531383769920937332e-01
_LG7 = 1.479819860511658591e-01


def _words(x: float) -> tuple[int, int]:
    """(signed high word, unsigned low word) of a double."""
    bits = struct.unpack("<q", struct.pack("<d", x))[0]
    return bits >> 32, bits & 0xFFFFFFFF


def _set_high(x: float, hi: int) -> float:
    lo = struct.unpack("<Q", struct.pack("<d", x))[0] & 0xFFFFFFFF
    return struct.unpack("<d", struct.pack(
        "<Q", ((hi & 0xFFFFFFFF) << 32) | lo))[0]


def strict_log(x: float) -> float:
    """``StrictMath.log(x)``: fdlibm ``e_log.c`` (``__ieee754_log``)."""
    x = float(x)
    hx, lx = _words(x)
    k = 0
    if hx < 0x00100000:                       # x < 2**-1022
        if ((hx & 0x7FFFFFFF) | lx) == 0:
            return float("-inf")              # log(+-0)
        if hx < 0:
            return float("nan")               # log(-#)
        k -= 54
        x *= _TWO54                           # subnormal: scale up
        hx = _words(x)[0]
    if hx >= 0x7FF00000:
        return x + x
    k += (hx >> 20) - 1023
    hx &= 0x000FFFFF
    i = (hx + 0x95F64) & 0x100000
    x = _set_high(x, hx | (i ^ 0x3FF00000))   # normalize x or x/2
    k += i >> 20
    f = x - 1.0
    if (0x000FFFFF & (2 + hx)) < 3:           # |f| < 2**-20
        if f == 0.0:
            if k == 0:
                return 0.0
            dk = float(k)
            return dk * _LN2_HI + dk * _LN2_LO
        r = f * f * (0.5 - 0.33333333333333333 * f)
        if k == 0:
            return f - r
        dk = float(k)
        return dk * _LN2_HI - ((r - dk * _LN2_LO) - f)
    s = f / (2.0 + f)
    dk = float(k)
    z = s * s
    i = hx - 0x6147A
    w = z * z
    j = 0x6B851 - hx
    t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
    t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
    i |= j
    r = t2 + t1
    if i > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO))
                               - f)
    if k == 0:
        return f - s * (f - r)
    return dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f)
