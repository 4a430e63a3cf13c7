"""Pure-Python WebP **lossless** (VP8L) codec.

Closes the last ``cv2.imread`` format-breadth gap vs the reference's
image ingest (``/root/reference/modules/image_scraper.py:103-114``
accepts whatever OpenCV reads — JPEG/PNG/BMP/TIFF are covered by the
sibling codecs; this adds WebP). Scope:

- **decode**: RIFF/WEBP container → the ``VP8L`` chunk (also found
  inside ``VP8X`` extended containers). Implements the lossless
  bitstream per the public "WebP Lossless Bitstream Specification":
  LSB-first bit reading, simple and normal (canonical) prefix codes
  with the 19-symbol code-length code and 16/17/18 RLE, optional
  per-image color cache, LZ77 backward references with the 120-entry
  2-D distance map, meta prefix-code groups via the entropy image,
  and all four transforms (predictor, color, subtract-green,
  color-indexing including sub-byte pixel bundling). Lossy ``VP8 ``
  payloads raise ``ValueError`` → quarantine (same policy as
  unsupported TIFF compressions).
- **encode**: a minimal spec-legal grayscale encoder used to build
  fixtures: subtract-green transform (so red/blue collapse to the
  single symbol 0 and cost zero bits per pixel), a canonical prefix
  code over the gray literals, no LZ77/cache/meta. Lossless, so the
  decode path must reproduce the pre-encode array bit-exactly — the
  same golden-fixture discipline as the PNG/JPEG/WAV codecs.

Like the sibling codecs this returns the 2-D uint8 luma plane
(truncating 0.299/0.587/0.114 fold) and raises ``ValueError`` on any
malformed input — callers route that to quarantine, never a task
failure.
"""

from __future__ import annotations

import struct

import numpy as np

MAX_PIXELS = 64_000_000  # same OOM guard as the PNG decoder

_LUMA = np.array([0.299, 0.587, 0.114])

# code-length-code symbol order (spec §6.2.2 / RFC1951 analogue)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

# 120-entry LZ77 distance map: distance code -> (dx, dy) neighborhood
# offset, dist = dy*width + dx (clamped >= 1); codes > 120 are linear.
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5),
    (8, 4), (3, 8), (-3, 8), (8, 5), (4, 8), (-4, 8), (6, 7), (-6, 7),
)


# 16-bit bit-reversal LUT: the rolling accumulator holds upcoming stream
# bits LSB-first; prefix codes are MSB-first, so the next-16-bits window
# reversed gives the code-aligned view for one table lookup per symbol.
_rv = np.arange(65536, dtype=np.uint32)
_rv = ((_rv & 0x5555) << 1) | ((_rv >> 1) & 0x5555)
_rv = ((_rv & 0x3333) << 2) | ((_rv >> 2) & 0x3333)
_rv = ((_rv & 0x0F0F) << 4) | ((_rv >> 4) & 0x0F0F)
_rv = ((_rv & 0x00FF) << 8) | ((_rv >> 8) & 0x00FF)
_REV16 = _rv.tolist()
del _rv


class _BitReader:
    """LSB-first bit reader (VP8L convention) with a rolling buffer.

    ``read`` returns the next n stream bits as an LSB-first value;
    ``read_sym`` decodes one prefix-code symbol via the code's filled
    lookup table — one 16-bit peek + one list index per symbol (the
    canonical fast-table decoder shape). Peeks past end-of-data see
    zero padding, but consuming past the true end raises (same
    truncation contract as the naive reader)."""

    __slots__ = ("data", "nbytes", "byte", "acc", "nbits", "used", "limit")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.nbytes = len(data)
        self.byte = 0  # next byte to load
        self.acc = 0
        self.nbits = 0
        self.used = 0
        self.limit = 8 * len(data)

    def _fill(self, need: int) -> None:
        while self.nbits < need:
            if self.byte < self.nbytes:
                self.acc |= self.data[self.byte] << self.nbits
                self.byte += 1
            self.nbits += 8  # zero padding past end (peek only)

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.used + n > self.limit:
            raise ValueError("vp8l: truncated bitstream")
        self._fill(n)
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        self.used += n
        return v

    def read_sym(self, pc: "_PrefixCode") -> int:
        if pc.single is not None:
            return pc.single
        self._fill(16)
        sym, ln = pc.fast[_REV16[self.acc & 0xFFFF] >> (16 - pc.max_len)]
        if ln == 0:
            raise ValueError("vp8l: invalid prefix code")
        if self.used + ln > self.limit:
            raise ValueError("vp8l: truncated bitstream")
        self.acc >>= ln
        self.nbits -= ln
        self.used += ln
        return sym


class _BitWriter:
    """LSB-first bit writer (encoder + hand-built test streams)."""

    def __init__(self) -> None:
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            self.bits.append((value >> i) & 1)

    def write_code(self, code: int, length: int) -> None:
        """Prefix codes are written MSB-first (spec convention)."""
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def tobytes(self) -> bytes:
        return np.packbits(
            np.asarray(self.bits, dtype=np.uint8), bitorder="little"
        ).tobytes()


def canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical assignment: shorter codes
    first, ties by symbol order (shared by encoder and decoder)."""
    pairs = sorted(
        (ln, s) for s, ln in enumerate(lengths) if ln > 0
    )
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for ln, sym in pairs:
        code <<= ln - prev_len
        codes[sym] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class _PrefixCode:
    """Decoder for one prefix code (simple or canonical-from-lengths).
    ``fast`` is the filled lookup table: every max_len-bit window maps
    to (symbol, code_length); unused windows carry length 0 (invalid —
    the bitstream never emits a non-code prefix)."""

    __slots__ = ("single", "max_len", "fast", "uniform_len", "lut", "max_sym")

    def __init__(
        self, lengths: list[int] | None = None, symbols: list[int] | None = None
    ) -> None:
        if symbols is not None:  # simple code: 1 or 2 symbols
            if len(symbols) == 1:
                self.single = symbols[0]
                self.max_len = 0
                self.fast = []
                self.uniform_len, self.lut = None, None
                self.max_sym = symbols[0]
                return
            self.single = None
            self.max_len = 1
            self.fast = [(symbols[0], 1), (symbols[1], 1)]
            self.uniform_len = 1
            self.lut = np.asarray(symbols, dtype=np.int32)
            self.max_sym = max(symbols)
            return
        assert lengths is not None
        nz = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("vp8l: empty prefix code")
        if len(nz) == 1:
            # degenerate one-symbol code: zero bits per symbol
            self.single = nz[0][1]
            self.max_len = 0
            self.fast = []
            self.uniform_len, self.lut = None, None
            self.max_sym = nz[0][1]
            return
        self.single = None
        codes = canonical_codes(lengths)
        max_len = max(ln for _, ln in codes.values())
        if max_len > 15:
            raise ValueError("vp8l: code length over 15")
        self.max_len = max_len
        fast = [(0, 0)] * (1 << max_len)
        for sym, (code, ln) in codes.items():
            base = code << (max_len - ln)
            for pad in range(1 << (max_len - ln)):
                if fast[base + pad][1]:
                    raise ValueError("vp8l: over-subscribed prefix code")
                fast[base + pad] = (sym, ln)
        self.fast = fast
        # equal-length codes (our encoder's layout) decode vectorized:
        # code -> symbol LUT, -1 = invalid window
        if len({ln for _, ln in codes.values()}) == 1:
            self.uniform_len = max_len
            lut = np.full(1 << max_len, -1, dtype=np.int32)
            for sym, (code, _ln) in codes.items():
                lut[code] = sym
            self.lut = lut
            self.max_sym = max(codes)
        else:
            self.uniform_len = None
            self.lut = None
            self.max_sym = max(codes)

    def decode(self, br: _BitReader) -> int:
        return br.read_sym(self)


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        sym0 = br.read(8 if first_8bit else 1)
        symbols = [sym0]
        if num_symbols == 2:
            symbols.append(br.read(8))
        if any(s >= alphabet_size for s in symbols):
            raise ValueError("vp8l: simple-code symbol out of range")
        return _PrefixCode(symbols=symbols)
    # normal code: code-length code first
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CLC_ORDER[i]] = br.read(3)
    cl_code = _PrefixCode(lengths=cl_lengths)
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        clen = cl_code.decode(br)
        if clen < 16:
            lengths[symbol] = clen
            symbol += 1
            if clen:
                prev_len = clen
        else:
            if clen == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif clen == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("vp8l: code-length repeat overflow")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _PrefixCode(lengths=lengths)


def _prefix_value(code: int, br: _BitReader) -> int:
    """LZ77 length/distance prefix decoding (spec §5.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _plane_to_dist(code: int, width: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    return max(1, dy * width + dx)


def _sub_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_image_stream(
    br: _BitReader, w: int, h: int, top_level: bool
) -> list[int]:
    """Entropy-coded ARGB image → flat list of 32-bit ARGB ints.
    Sub-images (entropy image, transform data, palette) use the same
    path with ``top_level=False`` (own color cache, single group)."""
    if w * h > MAX_PIXELS:
        raise ValueError("vp8l: image too large")
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("vp8l: color cache too large")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    groups: list[list[_PrefixCode]] = []
    meta: list[int] | None = None
    meta_bits = 0
    n_groups = 1
    if top_level and br.read(1):  # meta prefix codes / entropy image
        meta_bits = br.read(3) + 2
        mw, mh = _sub_size(w, meta_bits), _sub_size(h, meta_bits)
        meta_px = _decode_image_stream(br, mw, mh, False)
        meta = [((p >> 8) & 0xFFFF) for p in meta_px]  # (red<<8)|green
        n_groups = max(meta) + 1
    green_alpha = 256 + 24 + cache_size
    for _ in range(n_groups):
        groups.append(
            [
                _read_prefix_code(br, green_alpha),
                _read_prefix_code(br, 256),  # red
                _read_prefix_code(br, 256),  # blue
                _read_prefix_code(br, 256),  # alpha
                _read_prefix_code(br, 40),  # distance
            ]
        )

    px: list[int] = []
    n = w * h
    mw = _sub_size(w, meta_bits) if meta is not None else 0

    # hot loop: locals bound, bit ops inlined (the table-driven decode is
    # one 16-bit peek + one list index per symbol; the naive per-bit
    # reader made WebP pages ~100× slower than PNG in the extract bench)
    rev16 = _REV16
    read_sym = br.read_sym
    read = br.read
    append = px.append
    single_group = meta is None and len(groups) == 1
    g = groups[0]
    gg, gr, gb, ga, gd = g
    # VECTORIZED path: equal-length literal-only green code (the layout
    # our fixture encoder emits), one-symbol side trees, no cache — the
    # whole pixel stream is n fixed-width fields, decoded with numpy at
    # PNG-class speed. Foreign variable-length streams fall through to
    # the loop paths below.
    if (
        single_group
        and not cache_size
        and gr.single is not None
        and gb.single is not None
        and ga.single is not None
        and gg.uniform_len is not None
        and gg.max_sym < 256
    ):
        L = gg.uniform_len
        need = n * L
        if br.used + need > br.limit:
            raise ValueError("vp8l: truncated bitstream")
        bits = np.unpackbits(
            np.frombuffer(br.data, dtype=np.uint8), bitorder="little"
        )
        seg = bits[br.used : br.used + need].reshape(n, L)
        codes = np.zeros(n, dtype=np.uint32)
        for j in range(L):  # prefix codes are MSB-first in stream order
            codes = (codes << np.uint32(1)) | seg[:, j]
        syms = gg.lut[codes]
        if int(syms.min(initial=0)) < 0:
            raise ValueError("vp8l: invalid prefix code")
        base = (ga.single << 24) | (gr.single << 16) | gb.single
        out = (np.uint32(base) | (syms.astype(np.uint32) << np.uint32(8)))
        # resync the reader past the consumed fields
        br.used += need
        br.byte = (br.used + 7) >> 3
        rem = (-br.used) % 8
        if rem and br.byte <= br.nbytes:
            br.acc = br.data[br.byte - 1] >> (8 - rem)
            br.nbits = rem
        else:
            br.acc = 0
            br.nbits = 0
        return out

    # fully-literal loop fast path: all side trees one-symbol, no cache
    if (
        single_group
        and not cache_size
        and gr.single is not None
        and gb.single is not None
        and ga.single is not None
        and gg.single is None
    ):
        base = (ga.single << 24) | (gr.single << 16) | gb.single
        fast = gg.fast
        shift = 16 - gg.max_len
        # reader state hoisted into locals — per-pixel work is one fill
        # check, one table lookup, one append
        data = br.data
        nbytes = br.nbytes
        byte, acc, nbits, used = br.byte, br.acc, br.nbits, br.used
        limit = br.limit
        count = 0
        while count < n:
            while nbits < 16:
                if byte < nbytes:
                    acc |= data[byte] << nbits
                    byte += 1
                nbits += 8
            s, ln = fast[rev16[acc & 0xFFFF] >> shift]
            if ln == 0:
                raise ValueError("vp8l: invalid prefix code")
            used += ln
            if used > limit:
                raise ValueError("vp8l: truncated bitstream")
            acc >>= ln
            nbits -= ln
            if s < 256:
                append(base | (s << 8))
                count += 1
                continue
            if s >= 280:
                raise ValueError("vp8l: cache index out of range")
            # rare LZ77 branch: sync reader state, use the slow helpers
            br.byte, br.acc, br.nbits, br.used = byte, acc, nbits, used
            length = _prefix_value(s - 256, br)
            dist = _plane_to_dist(_prefix_value(read_sym(gd), br), w)
            byte, acc, nbits, used = br.byte, br.acc, br.nbits, br.used
            if dist > count:
                raise ValueError("vp8l: backref before image start")
            for _ in range(length):
                if count >= n:
                    break
                append(px[count - dist])
                count += 1
        br.byte, br.acc, br.nbits, br.used = byte, acc, nbits, used
        return px

    while len(px) < n:
        pos = len(px)
        if meta is not None:
            x, y = pos % w, pos // w
            g = groups[meta[(y >> meta_bits) * mw + (x >> meta_bits)]]
        s = read_sym(g[0])
        if s < 256:  # literal
            red = read_sym(g[1])
            blue = read_sym(g[2])
            alpha = read_sym(g[3])
            argb = (alpha << 24) | (red << 16) | (s << 8) | blue
            append(argb)
            if cache_size:
                cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
        elif s < 256 + 24:  # LZ77 backref
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(read_sym(g[4]), br)
            dist = _plane_to_dist(dist_code, w)
            if dist > len(px):
                raise ValueError("vp8l: backref before image start")
            for _ in range(length):
                if len(px) >= n:
                    break
                argb = px[len(px) - dist]
                append(argb)
                if cache_size:
                    cache[
                        (0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = argb
        else:  # color cache
            idx = s - 256 - 24
            if idx >= cache_size:
                raise ValueError("vp8l: cache index out of range")
            append(cache[idx])
    return px


# ---------------------------------------------------------------- transforms


def _inv_subtract_green(px: list[int], w: int, h: int) -> None:
    for i, p in enumerate(px):
        g = (p >> 8) & 0xFF
        r = ((p >> 16) + g) & 0xFF
        b = (p + g) & 0xFF
        px[i] = (p & 0xFF00FF00) | (r << 16) | b


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) // 2) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) // 2) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) // 2) << 8
        | (((a & 0xFF) + (b & 0xFF)) // 2)
    )


def _clamp_add_sub_full(a: int, b: int, c: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((a >> sh) & 0xFF) + ((b >> sh) & 0xFF) - ((c >> sh) & 0xFF)
        out |= max(0, min(255, v)) << sh
    return out


def _clamp_add_sub_half(a: int, b: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        av, bv = (a >> sh) & 0xFF, (b >> sh) & 0xFF
        d = av - bv
        # C truncating division (toward zero), matters for negative d
        half = d // 2 if d >= 0 else -((-d) // 2)
        out |= max(0, min(255, av + half)) << sh
    return out


def _select(l: int, t: int, tl: int) -> int:
    # return top when Σ|l-tl| ≤ Σ|t-tl| (the endpoint closer to the
    # gradient prediction l+t-tl; ties go to top, per the spec)
    dl = dt = 0
    for sh in (24, 16, 8, 0):
        lv, tv, tlv = (l >> sh) & 0xFF, (t >> sh) & 0xFF, (tl >> sh) & 0xFF
        dl += abs(lv - tlv)
        dt += abs(tv - tlv)
    return t if dl <= dt else l


def _predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(_avg2(l, t), tl)
    raise ValueError("vp8l: bad predictor mode")


def _add_px(p: int, pred: int) -> int:
    return (
        ((((p >> 24) + (pred >> 24)) & 0xFF) << 24)
        | ((((p >> 16) + (pred >> 16)) & 0xFF) << 16)
        | ((((p >> 8) + (pred >> 8)) & 0xFF) << 8)
        | ((p + pred) & 0xFF)
    )


def _inv_predictor(
    px: list[int], w: int, h: int, bits: int, modes: list[int]
) -> None:
    mw = _sub_size(w, bits)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]  # L
            elif x == 0:
                pred = px[i - w]  # T
            else:
                mode = (modes[(y >> bits) * mw + (x >> bits)] >> 8) & 0xFF
                l, t, tl = px[i - 1], px[i - w], px[i - w - 1]
                tr = px[i - w + 1] if x + 1 < w else px[i - w - (w - 1)]
                pred = _predict(mode, l, t, tl, tr)
            px[i] = _add_px(px[i], pred)


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _delta(t: int, v: int) -> int:
    return (_s8(t) * _s8(v)) >> 5


def _inv_color_transform(
    px: list[int], w: int, h: int, bits: int, elems: list[int]
) -> None:
    mw = _sub_size(w, bits)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            e = elems[(y >> bits) * mw + (x >> bits)]
            # ColorTransformElement channel layout (spec):
            # green_to_red in blue (bits 0-7), green_to_blue in green
            # (8-15), red_to_blue in red (16-23)
            g2r = e & 0xFF
            g2b = (e >> 8) & 0xFF
            r2b = (e >> 16) & 0xFF
            p = px[i]
            g = (p >> 8) & 0xFF
            r = ((p >> 16) & 0xFF) + _delta(g2r, g)
            r &= 0xFF
            b = (p & 0xFF) + _delta(g2b, g) + _delta(r2b, r)
            b &= 0xFF
            px[i] = (p & 0xFF00FF00) | (r << 16) | b


def _inv_color_indexing_np(
    arr: np.ndarray, w: int, h: int, palette: list[int], width_bits: int
) -> np.ndarray:
    """Vectorized palette expansion (incl. sub-byte pixel bundling)."""
    pal = np.asarray(palette, dtype=np.uint32)
    if width_bits == 0:
        idx = (arr >> 8) & 0xFF
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("vp8l: palette index out of range")
        return pal[idx]
    per = 1 << width_bits
    ibits = 8 >> width_bits
    mask = (1 << ibits) - 1
    cw = _sub_size(w, width_bits)
    packed = ((arr.reshape(h, cw) >> 8) & 0xFF).astype(np.uint32)
    col = np.arange(w)
    shifts = (ibits * (col & (per - 1))).astype(np.uint32)
    idx = (packed[:, col >> width_bits] >> shifts[None, :]) & mask
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("vp8l: palette index out of range")
    return pal[idx].reshape(-1)


# ------------------------------------------------------------------- decode


def _find_vp8l_chunk(data: bytes) -> bytes:
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("webp: bad RIFF header")
    off = 12
    while off + 8 <= len(data):
        tag = data[off : off + 4]
        (size,) = struct.unpack("<I", data[off + 4 : off + 8])
        body = data[off + 8 : off + 8 + size]
        if len(body) < size:
            raise ValueError("webp: truncated chunk")
        if tag == b"VP8L":
            return body
        if tag == b"VP8 ":
            raise ValueError("webp: lossy VP8 not supported")
        off += 8 + size + (size & 1)
    raise ValueError("webp: no VP8L chunk")


def decode(data: bytes) -> np.ndarray:
    """WebP-lossless bytes → 2-D uint8 luma array."""
    payload = _find_vp8l_chunk(data)
    if not payload or payload[0] != 0x2F:
        raise ValueError("vp8l: bad signature")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("vp8l: unknown version")
    if w * h > MAX_PIXELS:
        raise ValueError("vp8l: image too large")

    # each transform records the image width it operates at (color
    # indexing is the only width-changer; transforms read AFTER it in
    # the stream see — and inverse-apply at — the reduced width)
    transforms: list[tuple[int, int, object]] = []
    seen = set()
    decode_w = w
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("vp8l: duplicate transform")
        seen.add(ttype)
        if ttype == 2:  # subtract green
            transforms.append((2, decode_w, None))
        elif ttype in (0, 1):  # predictor / color
            bits = br.read(3) + 2
            sub = _decode_image_stream(
                br, _sub_size(decode_w, bits), _sub_size(h, bits), False
            )
            transforms.append((ttype, decode_w, (bits, sub)))
        else:  # 3: color indexing
            psize = br.read(8) + 1
            pal_px = _decode_image_stream(br, psize, 1, False)
            palette = []
            prev = 0
            for p in pal_px:  # delta-coded per channel
                cur = (
                    ((((p >> 24) + (prev >> 24)) & 0xFF) << 24)
                    | ((((p >> 16) + (prev >> 16)) & 0xFF) << 16)
                    | ((((p >> 8) + (prev >> 8)) & 0xFF) << 8)
                    | ((p + prev) & 0xFF)
                )
                palette.append(cur)
                prev = cur
            if psize <= 2:
                width_bits = 3
            elif psize <= 4:
                width_bits = 2
            elif psize <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append((3, decode_w, (palette, width_bits)))
            decode_w = _sub_size(decode_w, width_bits)

    px = _decode_image_stream(br, decode_w, h, True)

    # subtract-green and color-indexing (the common transforms) run
    # vectorized over a uint32 array; the rarer predictor/color
    # transforms keep the per-pixel reference implementations
    arr = np.asarray(px, dtype=np.uint32)
    for ttype, op_w, arg in reversed(transforms):
        if ttype == 3:
            palette, width_bits = arg
            arr = _inv_color_indexing_np(arr, op_w, h, palette, width_bits)
        elif ttype == 2:
            g = (arr >> 8) & 0xFF
            r = ((arr >> 16) + g) & 0xFF
            b = (arr + g) & 0xFF
            arr = (arr & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b
        elif ttype == 0:
            bits, sub = arg
            lst = arr.tolist()
            _inv_predictor(lst, op_w, h, bits, sub)
            arr = np.asarray(lst, dtype=np.uint32)
        else:
            bits, sub = arg
            lst = arr.tolist()
            _inv_color_transform(lst, op_w, h, bits, sub)
            arr = np.asarray(lst, dtype=np.uint32)
    px = arr
    if len(px) != w * h:
        raise ValueError("vp8l: decoded size mismatch")

    arr = px.reshape(h, w)
    r = ((arr >> 16) & 0xFF).astype(np.uint8)
    g = ((arr >> 8) & 0xFF).astype(np.uint8)
    b = (arr & 0xFF).astype(np.uint8)
    if (r == g).all() and (g == b).all():
        return g  # true grayscale: no lossy luma fold (PNG-path parity)
    rgb = np.stack([r, g, b], axis=-1).astype(np.float64)
    return np.clip(rgb @ _LUMA, 0, 255).astype(np.uint8)


def dims(data: bytes) -> tuple[int, int]:
    """(width, height) from the VP8L header only."""
    payload = _find_vp8l_chunk(data)
    if not payload or payload[0] != 0x2F:
        raise ValueError("vp8l: bad signature")
    br = _BitReader(payload[1:])
    return br.read(14) + 1, br.read(14) + 1


# ------------------------------------------------------------------- encode


def _equal_lengths(symbols: list[int]) -> dict[int, int]:
    """Equal-length canonical code over the used symbols — a legal
    (possibly incomplete) prefix code that the decoder's vectorized
    fixed-width path handles at numpy speed. Costs ceil(log2 k) bits
    per pixel instead of entropy-optimal, which fixtures don't care
    about; a production encoder would use real Huffman lengths and the
    decoder would fall back to the loop path."""
    k = len(symbols)
    L = max(1, (k - 1).bit_length())
    return {s: L for s in symbols}


def _write_normal_code(
    bw: _BitWriter, lengths_by_symbol: dict[int, int], alphabet_size: int
) -> dict[int, tuple[int, int]]:
    """Serialize a normal prefix code (literal code lengths, no RLE) and
    return the canonical symbol->(code,length) map for payload writing."""
    bw.write(0, 1)  # not simple
    full = [lengths_by_symbol.get(s, 0) for s in range(alphabet_size)]
    # code-length code: equal-length canonical over the used CL symbols
    used = sorted(set(full))
    cl_len = max(1, (len(used) - 1).bit_length()) if len(used) > 1 else 1
    cl_lengths = [0] * 19
    for s in used:
        cl_lengths[s] = cl_len
    bw.write(19 - 4, 4)  # num_code_lengths = 19
    for i in range(19):
        bw.write(cl_lengths[_CLC_ORDER[i]], 3)
    cl_codes = canonical_codes(cl_lengths)
    bw.write(0, 1)  # no max_symbol: all alphabet_size lengths follow
    for ln in full:
        code, bits = cl_codes[ln]
        bw.write_code(code, bits)
    return canonical_codes(full)


def _write_simple_code(bw: _BitWriter, symbol: int) -> None:
    bw.write(1, 1)  # simple
    bw.write(0, 1)  # one symbol
    if symbol <= 1:
        bw.write(0, 1)  # 1-bit first symbol
        bw.write(symbol, 1)
    else:
        bw.write(1, 1)  # 8-bit first symbol
        bw.write(symbol, 8)


def encode_gray(arr: np.ndarray) -> bytes:
    """2-D uint8 array → WebP-lossless bytes (subtract-green + one
    canonical literal code; red/blue/alpha/distance are one-symbol
    codes costing zero bits per pixel)."""
    if arr.ndim != 2 or arr.dtype != np.uint8:
        raise ValueError("encode_gray expects 2-D uint8")
    h, w = arr.shape
    if not (0 < w <= 16384 and 0 < h <= 16384):
        raise ValueError("encode_gray: dims out of VP8L range")
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version
    # one transform: subtract green (r/b become 0 for gray pixels)
    bw.write(1, 1)
    bw.write(2, 2)
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix codes
    flat = arr.reshape(-1)
    used = sorted(set(flat.tolist()))
    if len(used) == 1:
        # avoid the ambiguous single-symbol normal code: pad with a
        # dummy second symbol so the code stays fixed-width
        used.append((used[0] + 1) % 256)
    lengths = _equal_lengths(used)
    green_codes = _write_normal_code(bw, lengths, 256 + 24)
    _write_simple_code(bw, 0)  # red
    _write_simple_code(bw, 0)  # blue
    _write_simple_code(bw, 255)  # alpha
    _write_simple_code(bw, 0)  # distance
    # fixed-width payload: emit vectorized (codes are canonical, so
    # code(sym) = rank of sym among used symbols)
    L = lengths[used[0]]
    rank = np.zeros(256, dtype=np.uint32)
    for i, s in enumerate(used):
        rank[s] = i
    codes = rank[flat]
    code_bits = np.zeros((codes.size, L), dtype=np.uint8)
    for j in range(L):  # MSB first
        code_bits[:, j] = (codes >> (L - 1 - j)) & 1
    bw.bits.extend(code_bits.reshape(-1).tolist())
    payload = bw.tobytes()  # signature byte was written first
    padded = payload + (b"\x00" if len(payload) & 1 else b"")
    riff = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(padded))
        + b"WEBP"
        + b"VP8L"
        + struct.pack("<I", len(payload))
        + padded
    )
    return riff
