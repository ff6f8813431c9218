"""Dependency-free WebP lossless (VP8L) codec.

Round 13 closes the webp gap per WEBP.md: VP8L — the lossless half of
WebP and the only half that can serve the bit-exact tier — gets a real
pure-Python decoder covering the full lossless bitstream (all four
transforms, color cache, meta prefix codes, LZ77 backward references
with the 2D distance map) and an encoder emitting a conformant simple
subset (prefix-coded literals; gray input rides a COLOR_INDEXING
palette exactly like real lossless-webp gray encodes). Lossy VP8
payloads raise the same documented NotImplementedError class as
arithmetic-coded JPEG — the rationale lives in WEBP.md.

Format source: the public WebP lossless bitstream specification
(RFC 9649); the reference repo has no webp support, so there is no
reference file:line to cite — this is engine-extension surface like
the streaming family.

Conformance evidence tier (documented, same class as the TIFF arms
that lack a JVM twin): encoder->decoder roundtrips must be
bit-identical, hand-built spec vectors pin the entropy machinery, and
hostile inputs (dimension bombs, truncation, over/under-subscribed
prefix codes, palette escapes, LZ77 overruns) raise ValueError before
unbounded work. The JDK's ImageIO has NO webp reader, so unlike
PNG/GIF/BMP there is no independent decoder on this box to
cross-validate against; WEBP.md records that gap and the deployment
note. The LZ77 distance-map table below is GENERATED from the spec's
stated ordering (the 120 nearest (dx, dy>=0) offsets by squared
distance, larger dy first on ties, positive dx before negative) —
verified against the table's listed prefix.

Output conventions match the sibling codecs in multimodal.py: flat
uint8; gray collapses to 1 byte/px ONLY on the deterministic
palette-keyed rule (a COLOR_INDEXING palette whose entries are all
opaque gray — the GIF rule), everything else is RGB interleaved with
alpha dropped. Content-based collapse would make a near-gray photo
shape-shift on a one-pixel edit, so it is deliberately not done.
"""

from __future__ import annotations

import struct

import numpy as np

# Decode bound: ARGB pixel count, the same protection class as
# decode_png's 2^28 filtered-byte bound but sized to THIS decoder's
# representation (headers are UNTRUSTED — a 16383x16383 header on a
# 50-byte payload must quarantine, never OOM an executor): the
# entropy stage holds pixels as a Python list of ints (~32+ bytes per
# non-cached int object), so 2^22 px ≈ a 2048x2048 image ≈ 100-200 MB
# transient per payload — far above any fixture, and bounded so 32
# concurrent Arrow workers stay inside executor memory. The round-13
# review measured the earlier 2^26 bound admitting multi-GB
# allocations through this representation.
MAX_PIXELS = 1 << 22

# Code-length-code symbol order (shared with DEFLATE's trick of
# fronting the symbols most likely to be used).
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# The 120 short-distance (dx, dy) offsets, generated from the spec's
# ordering rule (see module docstring).
_DIST_MAP = sorted(
    (
        (dx, dy)
        for dy in range(0, 9)
        for dx in range(-8, 9)
        if dy > 0 or dx > 0
    ),
    key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], 0 if p[0] > 0 else 1),
)[:120]


# --------------------------------------------------------------- bits

# byte -> its bit-reversed value (the prefix-code LUT peeks the next 8
# stream bits in code order, which is the reverse of the LSB-first
# stream order — the same reversal DEFLATE decoders use)
_REV8 = tuple(int(f"{b:08b}"[::-1], 2) for b in range(256))


class _Bits:
    """LSB-first bit reader over an immutable byte string; running off
    the end raises ValueError (truncation is a quarantine verdict)."""

    __slots__ = ("d", "pos", "n")

    def __init__(self, d: bytes) -> None:
        self.d = d
        self.pos = 0
        self.n = len(d) * 8

    def read(self, k: int) -> int:
        p = self.pos
        if p + k > self.n:
            raise ValueError("truncated VP8L stream")
        v = 0
        d = self.d
        for i in range(k):
            v |= ((d[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + k
        return v

    def read1(self) -> int:
        p = self.pos
        if p >= self.n:
            raise ValueError("truncated VP8L stream")
        self.pos = p + 1
        return (self.d[p >> 3] >> (p & 7)) & 1

    def peek_code8(self) -> int:
        """The next 8 stream bits in CODE order (first bit = MSB);
        bits past the end read as 0 — callers bound consumption."""
        p = self.pos
        d = self.d
        byte = p >> 3
        bit = p & 7
        chunk = d[byte] >> bit if byte < len(d) else 0
        if bit and byte + 1 < len(d):
            chunk |= d[byte + 1] << (8 - bit)
        return _REV8[chunk & 0xFF]


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def lsb(self, v: int, k: int) -> None:
        """k bits of v, LSB-first (plain fields)."""
        self.acc |= (v & ((1 << k) - 1)) << self.nbits
        self.nbits += k
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def code(self, code: int, length: int) -> None:
        """Prefix-code bits, MSB of the code first (DEFLATE rule)."""
        for i in range(length - 1, -1, -1):
            self.lsb((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        out = bytearray(self.buf)
        if self.nbits:
            out.append(self.acc & 0xFF)
        return bytes(out)


# ------------------------------------------------------- prefix codes


class _Prefix:
    """Canonical prefix code (DEFLATE assignment: codes increase with
    (length, symbol)); decode walks bit-by-bit, stream bits are the
    code's bits MSB-first. A code with exactly one used symbol reads
    ZERO bits per the spec. Over- or under-subscribed length sets
    raise (strict tier)."""

    __slots__ = ("table", "single", "max_len", "lut")

    def __init__(self, lengths: list[int]) -> None:
        used = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise ValueError("VP8L prefix code with no symbols")
        if len(used) == 1:
            self.single = used[0][1]
            self.table = {}
            self.max_len = 0
            self.lut = None
            return
        self.single = None
        kraft = sum(1 << (15 - l) for l, _ in used)
        if kraft != 1 << 15:
            raise ValueError(
                "VP8L prefix code is "
                + ("over" if kraft > 1 << 15 else "under")
                + "-subscribed"
            )
        used.sort()
        self.table = {}
        # 8-bit lookahead LUT (the JPEG-decoder precedent): one peek
        # resolves any code of length <= 8; longer codes fall back to
        # the bit-walk. Entry = (symbol, length) or None.
        lut: list[tuple[int, int] | None] = [None] * 256
        code = 0
        prev_len = used[0][0]
        for l, s in used:
            code <<= l - prev_len
            prev_len = l
            self.table[(l, code)] = s
            if l <= 8:
                base = code << (8 - l)
                for i in range(1 << (8 - l)):
                    lut[base + i] = (s, l)
            code += 1
        self.max_len = prev_len
        self.lut = lut

    def read(self, br: _Bits) -> int:
        if self.single is not None:
            return self.single
        e = self.lut[br.peek_code8()]
        if e is not None:
            s, l = e
            if br.pos + l > br.n:
                raise ValueError("truncated VP8L stream")
            br.pos += l
            return s
        code = 0
        length = 0
        table = self.table
        while True:
            code = (code << 1) | br.read1()
            length += 1
            s = table.get((length, code))
            if s is not None:
                return s
            if length >= self.max_len:
                raise ValueError("corrupt VP8L prefix stream")


def _encoder_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical — the writer twin of
    _Prefix's reader assignment. A single-symbol code maps to a
    ZERO-length code (the reader consumes no bits for it, per the
    spec), so writers can emit every symbol uniformly."""
    used = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    if len(used) == 1:
        return {used[0][1]: (0, 0)}
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = used[0][0] if used else 0
    for l, s in used:
        code <<= l - prev_len
        prev_len = l
        out[s] = (code, l)
        code += 1
    return out


def _read_code_lengths(br: _Bits, alphabet: int) -> list[int]:
    """The normal (non-simple) prefix-code serialization: a 19-symbol
    code-length code, then RLE-coded symbol lengths (16 repeat-prev /
    17, 18 zero runs), optionally cut short by max_symbol."""
    num_codes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CLC_ORDER[i]] = br.read(3)
    cl = _Prefix(cl_lengths)
    if br.read1():
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet:
            raise ValueError("VP8L max_symbol exceeds the alphabet")
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev_len = 8
    i = 0
    while i < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = cl.read(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev_len = s
        else:
            if s == 16:
                rep = 3 + br.read(2)
                fill = prev_len
            elif s == 17:
                rep = 3 + br.read(3)
                fill = 0
            else:
                rep = 11 + br.read(7)
                fill = 0
            if i + rep > alphabet:
                raise ValueError("VP8L code-length run overflows alphabet")
            for _ in range(rep):
                lengths[i] = fill
                i += 1
    return lengths


def _read_prefix_code(br: _Bits, alphabet: int) -> _Prefix:
    if br.read1():  # simple: 1 or 2 symbols given literally
        num = br.read1() + 1
        first = br.read(8) if br.read1() else br.read1()
        syms = [first]
        if num == 2:
            syms.append(br.read(8))
        lengths = [0] * alphabet
        for s in syms:
            if s >= alphabet:
                raise ValueError("VP8L simple-code symbol out of alphabet")
            lengths[s] = 1
        if num == 1:
            lengths[syms[0]] = 1  # single: _Prefix reads zero bits
        return _Prefix(lengths)
    return _Prefix(_read_code_lengths(br, alphabet))


# --------------------------------------------------- entropy image


def _lz77_value(prefix: int, br: _Bits) -> int:
    """LZ77 length/distance prefix decoding (spec 4.2.2)."""
    if prefix < 4:
        return prefix + 1
    extra = (prefix - 2) >> 1
    offset = (2 + (prefix & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_entropy_image(
    br: _Bits, w: int, h: int, allow_meta: bool
) -> list[int]:
    """One spatially/entropy-coded image -> row-major ARGB ints."""
    cache_bits = 0
    if br.read1():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"invalid VP8L color-cache bits {cache_bits}")
    meta = None
    prefix_bits = 0
    meta_w = 0
    num_groups = 1
    if allow_meta and br.read1():
        prefix_bits = 2 + br.read(3)
        meta_w = -(-w >> prefix_bits) or 1
        meta_h = -(-h >> prefix_bits) or 1
        meta_px = _decode_entropy_image(br, meta_w, meta_h, False)
        meta = [((p >> 8) & 0xFFFF) for p in meta_px]
        num_groups = max(meta) + 1
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_prefix_code(br, green_alpha),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 40),
            )
        )
    cache = [0] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    n = w * h
    argb: list[int] = [0] * n
    pos = 0
    x = 0
    y = 0
    g = groups[0]
    pending = None  # a symbol consumed by the fast path, not yet handled
    if meta is None and cache is None:
        # Fast path for the dominant single-group literal shape (what
        # every simple encoder, ours included, emits): hoist the green
        # reader and, when the other three channels are single-symbol
        # codes (zero bits each), fold them into one constant — the
        # inner loop is then one LUT peek + one OR per pixel. Any
        # length/cache symbol falls through to the general loop below
        # with full LZ77 handling.
        g0 = g[0]
        rs, bs, as_ = g[1].single, g[2].single, g[3].single
        if rs is not None and bs is not None and as_ is not None:
            base = (as_ << 24) | (rs << 16) | bs
            # peek + LUT inlined (two fewer method calls per pixel —
            # this loop IS the engine's webp decode floor, see the
            # SCALING.md codec table); g0.single is impossible here
            # (a single-symbol green code has no length symbols and
            # the encoder path with >1 pixel values always has >1
            # green symbols — and if it IS single, read() below
            # handles it without consuming bits).
            lut = g0.lut
            rev8 = _REV8
            d = br.d
            ndata = len(d)
            nbits_total = br.n
            p = br.pos
            while pos < n:
                byte = p >> 3
                chunk = d[byte] >> (p & 7) if byte < ndata else 0
                if (p & 7) and byte + 1 < ndata:
                    chunk |= d[byte + 1] << (8 - (p & 7))
                e = lut[rev8[chunk & 0xFF]] if lut is not None else None
                if e is None:
                    br.pos = p
                    s = g0.read(br)
                    p = br.pos
                else:
                    s, l = e
                    if p + l > nbits_total:
                        br.pos = p
                        raise ValueError("truncated VP8L stream")
                    p += l
                if s < 256:
                    argb[pos] = base | (s << 8)
                    pos += 1
                    continue
                br.pos = p
                pending = s  # already consumed: hand to the slow loop
                break
            else:
                br.pos = p
        if pos < n:
            x = pos % w
            y = pos // w
    while pos < n:
        if pending is not None:
            s = pending
            pending = None
        else:
            if meta is not None:
                g = groups[
                    meta[(y >> prefix_bits) * meta_w + (x >> prefix_bits)]
                ]
            s = g[0].read(br)
        if s < 256:
            r = g[1].read(br)
            b = g[2].read(br)
            a = g[3].read(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            argb[pos] = px
            if cache is not None:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> shift] = px
            pos += 1
            x += 1
            if x == w:
                x = 0
                y += 1
        elif s < 280:
            length = _lz77_value(s - 256, br)
            dist_code = _lz77_value(g[4].read(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > pos:
                raise ValueError("VP8L backward reference before image start")
            if pos + length > n:
                raise ValueError("VP8L backward reference overruns image")
            for _ in range(length):
                px = argb[pos - dist]
                argb[pos] = px
                if cache is not None:
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> shift] = px
                pos += 1
            x = pos % w
            y = pos // w
        else:
            if cache is None:
                raise ValueError("VP8L cache reference without a color cache")
            idx = s - 280
            px = cache[idx]
            argb[pos] = px
            pos += 1
            x += 1
            if x == w:
                x = 0
                y += 1
    return argb


# ------------------------------------------------------- transforms


def _i8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ctd(t: int, c: int) -> int:
    """ColorTransformDelta: int8 * int8, arithmetic >> 5."""
    return (_i8(t) * _i8(c)) >> 5


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | ((a & 0xFF) + (b & 0xFF)) >> 1
    )


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _select(L: int, T: int, TL: int) -> int:
    p = [
        ((L >> s) & 0xFF) + ((T >> s) & 0xFF) - ((TL >> s) & 0xFF)
        for s in (24, 16, 8, 0)
    ]
    pl = sum(abs(pc - ((L >> s) & 0xFF)) for pc, s in zip(p, (24, 16, 8, 0)))
    pt = sum(abs(pc - ((T >> s) & 0xFF)) for pc, s in zip(p, (24, 16, 8, 0)))
    return L if pl < pt else T


def _cas_full(L: int, T: int, TL: int) -> int:
    out = 0
    for s in (24, 16, 8, 0):
        out |= (
            _clamp(((L >> s) & 0xFF) + ((T >> s) & 0xFF) - ((TL >> s) & 0xFF))
            << s
        )
    return out


def _cas_half(avg: int, TL: int) -> int:
    out = 0
    for s in (24, 16, 8, 0):
        a = (avg >> s) & 0xFF
        b = (TL >> s) & 0xFF
        d = a - b
        # C integer division truncates toward zero
        half = d // 2 if d >= 0 else -((-d) // 2)
        out |= _clamp(a + half) << s
    return out


def _add_px(residual: int, pred: int) -> int:
    return (
        ((((residual >> 24) & 0xFF) + ((pred >> 24) & 0xFF)) & 0xFF) << 24
        | ((((residual >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF) << 16
        | ((((residual >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF) << 8
        | (((residual & 0xFF) + (pred & 0xFF)) & 0xFF)
    )


def _inverse_predictor(
    argb: list[int], w: int, h: int, size_bits: int, modes: list[int], tw: int
) -> None:
    for y in range(h):
        row = y * w
        for x in range(w):
            pos = row + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = argb[pos - 1]
            elif x == 0:
                pred = argb[pos - w]
            else:
                mode = (
                    modes[(y >> size_bits) * tw + (x >> size_bits)] >> 8
                ) & 0xFF
                L = argb[pos - 1]
                T = argb[pos - w]
                TL = argb[pos - w - 1]
                TR = argb[pos - w + 1]  # wraps to row start at x == w-1
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(L, T, TL)
                elif mode == 12:
                    pred = _cas_full(L, T, TL)
                elif mode == 13:
                    pred = _cas_half(_avg2(L, T), TL)
                else:
                    raise ValueError(f"invalid VP8L predictor mode {mode}")
            argb[pos] = _add_px(argb[pos], pred)


def _inverse_color_transform(
    argb: list[int], w: int, h: int, size_bits: int, elems: list[int], tw: int
) -> None:
    for y in range(h):
        row = y * w
        for x in range(w):
            pos = row + x
            cte = elems[(y >> size_bits) * tw + (x >> size_bits)]
            g2r = cte & 0xFF  # stored in blue channel
            g2b = (cte >> 8) & 0xFF  # green channel
            r2b = (cte >> 16) & 0xFF  # red channel
            px = argb[pos]
            green = (px >> 8) & 0xFF
            red = ((px >> 16) & 0xFF) + _ctd(g2r, green)
            blue = (px & 0xFF) + _ctd(g2b, green)
            blue += _ctd(r2b, red & 0xFF)
            argb[pos] = (
                (px & 0xFF00FF00) | ((red & 0xFF) << 16) | (blue & 0xFF)
            )


def _inverse_subtract_green(argb: list[int]) -> None:
    for i, px in enumerate(argb):
        g = (px >> 8) & 0xFF
        r = (((px >> 16) & 0xFF) + g) & 0xFF
        b = ((px & 0xFF) + g) & 0xFF
        argb[i] = (px & 0xFF00FF00) | (r << 16) | b


# --------------------------------------------------------- decoder


def decode_vp8l(payload: bytes) -> tuple[np.ndarray, int, int, bool]:
    """VP8L chunk payload -> (flat uint8 samples, width, height,
    gray). Gray (1 byte/px) ONLY via the palette-keyed rule; else RGB
    3 bytes/px with alpha dropped."""
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = _Bits(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read1()  # alpha hint (informational)
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    if w * h > MAX_PIXELS:
        raise ValueError(
            f"VP8L header declares {w}x{h} — over the decode bound"
        )
    cur_w = w
    transforms: list[tuple] = []
    seen: set[int] = set()
    while br.read1():
        if len(seen) == 4:
            raise ValueError("more than four VP8L transforms")
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError(f"duplicate VP8L transform {ttype}")
        seen.add(ttype)
        if ttype in (0, 1):  # predictor / color transform
            size_bits = 2 + br.read(3)
            tw = -(-cur_w >> size_bits) or 1
            th = -(-h >> size_bits) or 1
            tiles = _decode_entropy_image(br, tw, th, False)
            transforms.append((ttype, size_bits, tiles, tw, cur_w))
        elif ttype == 2:  # subtract green
            transforms.append((2,))
        else:  # color indexing
            n_colors = br.read(8) + 1
            width_bits = (
                3 if n_colors <= 2 else 2 if n_colors <= 4
                else 1 if n_colors <= 16 else 0
            )
            deltas = _decode_entropy_image(br, n_colors, 1, False)
            palette = []
            a = r = g = b = 0
            for d in deltas:
                a = (a + ((d >> 24) & 0xFF)) & 0xFF
                r = (r + ((d >> 16) & 0xFF)) & 0xFF
                g = (g + ((d >> 8) & 0xFF)) & 0xFF
                b = (b + (d & 0xFF)) & 0xFF
                palette.append((a << 24) | (r << 16) | (g << 8) | b)
            packed_w = -(-cur_w >> width_bits) if width_bits else cur_w
            transforms.append((3, width_bits, palette, cur_w))
            cur_w = packed_w
    argb = _decode_entropy_image(br, cur_w, h, True)
    gray_palette = False
    for i, t in enumerate(reversed(transforms)):
        if isinstance(argb, np.ndarray) and t[0] != 3:
            # scalar transform inverses index-mutate a plain list; the
            # ndarray fast path is only for when color-indexing is the
            # last inverse (our encoder's shape and the common one)
            argb = [int(v) for v in argb]
        if t[0] == 0:
            _inverse_predictor(argb, t[4], h, t[1], t[2], t[3])
        elif t[0] == 1:
            _inverse_color_transform(argb, t[4], h, t[1], t[2], t[3])
        elif t[0] == 2:
            _inverse_subtract_green(argb)
        else:
            _, width_bits, palette, full_w = t
            n_col = len(palette)
            pal_np = np.array(palette, dtype=np.uint32)
            a = np.asarray(argb, dtype=np.uint64)
            idx8 = ((a >> 8) & 0xFF).astype(np.int64)
            if width_bits:
                px_bits = 8 >> width_bits
                mask = (1 << px_bits) - 1
                per = 1 << width_bits
                packed_w = -(-full_w >> width_bits)
                packed = idx8.reshape(h, packed_w)
                cols = np.arange(full_w)
                shifts = (px_bits * (cols % per)).astype(np.int64)
                idx = (packed[:, cols // per] >> shifts) & mask
                idx = idx.reshape(-1)
            else:
                idx = idx8
            if idx.size and int(idx.max()) >= n_col:
                raise ValueError("VP8L palette index out of range")
            expanded = pal_np[idx]
            argb = expanded  # ndarray; downstream paths are vectorized
            # The palette-gray collapse is only valid when this is the
            # LAST inverse applied: a transform read AFTER the palette
            # in the stream (inverted after this expansion) rewrites
            # channels, so a gray palette no longer implies gray
            # pixels (round-13 review finding — a conformant
            # subtract-green + color-indexing stream decoded to a
            # wrong 1-byte/px output before this guard).
            gray_palette = i == len(transforms) - 1 and all(
                (p >> 24) == 0xFF
                and ((p >> 16) & 0xFF) == ((p >> 8) & 0xFF) == (p & 0xFF)
                for p in palette
            )
    arr = np.asarray(argb, dtype=np.uint64)
    if gray_palette:
        return ((arr >> 8) & 0xFF).astype(np.uint8), w, h, True
    flat = np.empty(arr.size * 3, dtype=np.uint8)
    flat[0::3] = (arr >> 16) & 0xFF
    flat[1::3] = (arr >> 8) & 0xFF
    flat[2::3] = arr & 0xFF
    return flat, w, h, False


def decode_webp(payload: bytes) -> np.ndarray:
    """RIFF/WEBP container -> flat uint8 samples (VP8L only; lossy VP8
    is the documented non-goal — WEBP.md)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WEBP payload")
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        ln = struct.unpack_from("<I", payload, pos + 4)[0]
        if pos + 8 + ln > len(payload):
            raise ValueError("truncated WEBP: chunk cut")
        if cid == b"VP8L":
            return decode_vp8l(payload[pos + 8 : pos + 8 + ln])[0]
        if cid in (b"VP8 ", b"ALPH"):
            raise NotImplementedError(
                "lossy (VP8) webp is a documented non-goal — see "
                "WEBP.md (it needs a full boolean-coder + "
                "intra-prediction + loop-filter decode)"
            )
        pos += 8 + ln + (ln & 1)
    raise ValueError("WEBP container has no VP8L chunk")


def webp_dims(payload: bytes) -> tuple[int, int]:
    """Header-only (width, height) sniff: VP8L 14-bit dims or the
    VP8X canvas fields, no entropy work. Consumed by
    attach_webp_media's emit-time geometry self-check; also the
    building block for a webp metadata gate (m01/m13 class)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WEBP payload")
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        ln = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated WEBP: chunk cut")
        if cid == b"VP8L":
            if len(body) < 5 or body[0] != 0x2F:
                raise ValueError("bad VP8L signature byte")
            bits = int.from_bytes(body[1:5], "little")
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        if cid == b"VP8X":
            if ln < 10:
                raise ValueError("truncated WEBP: VP8X too short")
            wm1 = int.from_bytes(body[4:7], "little")
            hm1 = int.from_bytes(body[7:10], "little")
            return wm1 + 1, hm1 + 1
        pos += 8 + ln + (ln & 1)
    raise ValueError("WEBP container has no image chunk")


# --------------------------------------------------------- encoder


def _huffman_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Symbol -> code length from frequencies (>= 2 symbols). Falls
    back to a flat complete code if the optimal tree is deeper than
    the format's 15-bit cap."""
    import heapq

    heap = [(f, [s]) for s, f in freqs.items()]
    heapq.heapify(heap)
    depths = {s: 0 for s in freqs}
    while len(heap) > 1:
        fa, sa = heapq.heappop(heap)
        fb, sb = heapq.heappop(heap)
        for s in sa + sb:
            depths[s] += 1
        heapq.heappush(heap, (fa + fb, sa + sb))
    if max(depths.values()) > max_len:
        n = len(freqs)
        flat = max(1, (n - 1).bit_length())
        short = (1 << flat) - n  # this many get length flat-1 (Kraft = 1)
        out = {}
        for i, s in enumerate(sorted(freqs)):
            out[s] = flat - 1 if i < short else flat
        return out
    return depths


def _emit_prefix_code(
    bw: _BitWriter, lengths_by_sym: dict[int, int], alphabet: int
) -> dict[int, tuple[int, int]]:
    """Serialize one prefix code (simple form when it fits, else the
    code-length-code form) and return the canonical writer codes."""
    syms = sorted(lengths_by_sym)
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.lsb(1, 1)  # simple
        bw.lsb(len(syms) - 1, 1)
        first = syms[0]
        if first <= 1:
            bw.lsb(0, 1)
            bw.lsb(first, 1)
        else:
            bw.lsb(1, 1)
            bw.lsb(first, 8)
        if len(syms) == 2:
            bw.lsb(syms[1], 8)
            lengths = {s: 1 for s in syms}
        else:
            lengths = {syms[0]: 1}
        full = [lengths.get(s, 0) for s in range(alphabet)]
        return _encoder_codes(full)

    full = [lengths_by_sym.get(s, 0) for s in range(alphabet)]
    # Tokenize: literal lengths; zero runs via 17 (3-10) / 18 (11-138).
    tokens: list[tuple[int, int, int]] = []  # (symbol, extra_val, extra_bits)
    i = 0
    while i < alphabet:
        if full[i] == 0:
            j = i
            while j < alphabet and full[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                r = min(run, 138)
                tokens.append((18, r - 11, 7))
                run -= r
            while run >= 3:
                r = min(run, 10)
                tokens.append((17, r - 3, 3))
                run -= r
            for _ in range(run):
                tokens.append((0, 0, 0))
            i = j
        else:
            tokens.append((full[i], 0, 0))
            i += 1
    # The code-length code must be COMPLETE: with a single distinct
    # token symbol (e.g. a perfectly uniform full alphabet) rewrite a
    # literal tail as 16-runs (repeat previous) to introduce a second.
    distinct = {t[0] for t in tokens}
    if len(distinct) == 1:
        sym = tokens[-1][0]
        lit_run = 0
        while lit_run < len(tokens) and tokens[len(tokens) - 1 - lit_run] == (
            sym, 0, 0,
        ):
            lit_run += 1
        if sym != 0 and lit_run >= 4:
            keep = len(tokens) - lit_run + 1  # leave one literal to repeat
            rewritten = tokens[:keep]
            run = lit_run - 1
            while run >= 3:
                r = min(run, 6)
                rewritten.append((16, r - 3, 2))
                run -= r
            for _ in range(run):
                rewritten.append((sym, 0, 0))
            tokens = rewritten
            distinct = {t[0] for t in tokens}
    if len(distinct) == 1:
        # last resort (tiny alphabets): duplicate semantics are not
        # expressible — pad with an unused length-15 phantom? Not
        # legal (breaks Kraft). Force the flat 2-symbol shape instead.
        raise ValueError("unencodable prefix-code shape")

    cl_freq: dict[int, int] = {}
    for t in tokens:
        cl_freq[t[0]] = cl_freq.get(t[0], 0) + 1
    cl_lengths = (
        _huffman_lengths(cl_freq, max_len=7)
        if len(cl_freq) > 1
        else {next(iter(cl_freq)): 1}
    )
    cl_codes = _encoder_codes(
        [cl_lengths.get(s, 0) for s in range(19)]
    )
    last_used = max(
        i for i, s in enumerate(_CLC_ORDER) if s in cl_lengths
    )
    num_codes = max(4, last_used + 1)
    bw.lsb(0, 1)  # normal form
    bw.lsb(num_codes - 4, 4)
    for i in range(num_codes):
        bw.lsb(cl_lengths.get(_CLC_ORDER[i], 0), 3)
    bw.lsb(0, 1)  # no max_symbol cut
    for sym, extra_val, extra_bits in tokens:
        c, l = cl_codes[sym]
        bw.code(c, l)
        if extra_bits:
            bw.lsb(extra_val, extra_bits)
    return _encoder_codes(full)


def _emit_entropy_image(
    bw: _BitWriter, argb: list[int], is_main: bool
) -> None:
    """Literal-only encoding: no color cache, no meta groups, no LZ77
    — one prefix-code group, every pixel spelled out. Conformant and
    simple; compression is not this encoder's job (fixtures are
    synthetic)."""
    bw.lsb(0, 1)  # no color cache
    if is_main:
        bw.lsb(0, 1)  # no meta prefix
    freq_g: dict[int, int] = {}
    freq_r: dict[int, int] = {}
    freq_b: dict[int, int] = {}
    freq_a: dict[int, int] = {}
    for px in argb:
        g = (px >> 8) & 0xFF
        freq_g[g] = freq_g.get(g, 0) + 1
        r = (px >> 16) & 0xFF
        freq_r[r] = freq_r.get(r, 0) + 1
        b = px & 0xFF
        freq_b[b] = freq_b.get(b, 0) + 1
        a = (px >> 24) & 0xFF
        freq_a[a] = freq_a.get(a, 0) + 1

    def lengths(freqs: dict[int, int]) -> dict[int, int]:
        if len(freqs) == 1:
            return {next(iter(freqs)): 1}
        return _huffman_lengths(freqs)

    codes_g = _emit_prefix_code(bw, lengths(freq_g), 256 + 24)
    codes_r = _emit_prefix_code(bw, lengths(freq_r), 256)
    codes_b = _emit_prefix_code(bw, lengths(freq_b), 256)
    codes_a = _emit_prefix_code(bw, lengths(freq_a), 256)
    _emit_prefix_code(bw, {0: 1}, 40)  # distance code: unused
    # Hot loop: emit per SYMBOL, not per bit — each code's bits are
    # pre-reversed into LSB-first form so one shift-or places the
    # whole code (single-symbol codes are zero-length no-ops).
    def rev(codes):
        return {
            s: ((int(f"{c:0{l}b}"[::-1], 2) if l else 0), l)
            for s, (c, l) in codes.items()
        }

    rg, rr, rb, ra = rev(codes_g), rev(codes_r), rev(codes_b), rev(codes_a)
    acc = bw.acc
    nbits = bw.nbits
    out = bw.buf
    for px in argb:
        v, l = rg[(px >> 8) & 0xFF]
        acc |= v << nbits
        nbits += l
        v, l = rr[(px >> 16) & 0xFF]
        acc |= v << nbits
        nbits += l
        v, l = rb[px & 0xFF]
        acc |= v << nbits
        nbits += l
        v, l = ra[(px >> 24) & 0xFF]
        acc |= v << nbits
        nbits += l
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    bw.acc = acc
    bw.nbits = nbits


def _check_dims(width: int, height: int) -> None:
    """The VP8L header stores width-1/height-1 in 14 bits: silently
    masking a larger dimension would emit a CONFORMANT container with
    the wrong geometry that decodes to wrong pixels with no error
    (round-13 review finding) — refuse loudly instead. The decode
    bound applies to the encoder too (symmetric contract)."""
    if width > 16384 or height > 16384:
        raise ValueError(
            f"VP8L dimensions are 14-bit: {width}x{height} exceeds 16384"
        )
    if width * height > MAX_PIXELS:
        raise ValueError(
            f"{width}x{height} exceeds the codec's pixel bound"
        )


def _container(stream: bytes) -> bytes:
    payload = b"\x2f" + stream
    pad = b"\x00" if len(payload) % 2 else b""
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload + pad
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def encode_webp_lossless(pixels: bytes, width: int) -> bytes:
    """Gray pixels -> lossless webp via a COLOR_INDEXING gray-ramp
    palette (how real lossless gray webp is encoded); decode returns
    exactly ``pixels`` (bit-exact tier)."""
    if width <= 0 or not pixels or len(pixels) % width:
        raise ValueError(
            "pixel length must be a positive multiple of width"
        )
    height = len(pixels) // width
    _check_dims(width, height)
    values = sorted(set(pixels))
    n_col = len(values)
    val_to_idx = {v: i for i, v in enumerate(values)}
    bw = _BitWriter()
    bw.lsb(width - 1, 14)
    bw.lsb(height - 1, 14)
    bw.lsb(0, 1)  # alpha hint
    bw.lsb(0, 3)  # version
    # one transform: color indexing
    bw.lsb(1, 1)
    bw.lsb(3, 2)
    bw.lsb(n_col - 1, 8)
    # palette image: delta-coded opaque gray entries
    deltas = []
    prev_a = prev_v = 0
    for v in values:
        da = (0xFF - prev_a) & 0xFF
        dv = (v - prev_v) & 0xFF
        deltas.append((da << 24) | (dv << 16) | (dv << 8) | dv)
        prev_a, prev_v = 0xFF, v
    _emit_entropy_image(bw, deltas, is_main=False)
    bw.lsb(0, 1)  # end of transforms
    width_bits = 3 if n_col <= 2 else 2 if n_col <= 4 else 1 if n_col <= 16 else 0
    if width_bits:
        per = 1 << width_bits
        px_bits = 8 >> width_bits
        packed_w = -(-width >> width_bits)
        main = []
        for y in range(height):
            row = pixels[y * width : (y + 1) * width]
            for xp in range(packed_w):
                g = 0
                for k in range(per):
                    x = xp * per + k
                    if x < width:
                        g |= val_to_idx[row[x]] << (px_bits * k)
                main.append(0xFF000000 | (g << 8))
    else:
        main = [0xFF000000 | (val_to_idx[v] << 8) for v in pixels]
    _emit_entropy_image(bw, main, is_main=True)
    return _container(bw.bytes())


def encode_webp_lossless_rgb(pixels: bytes, width: int) -> bytes:
    """Interleaved RGB -> lossless webp, literal ARGB (alpha 255);
    decode returns exactly ``pixels``."""
    if width <= 0 or not pixels or len(pixels) % (3 * width):
        raise ValueError(
            "pixel length must be a positive multiple of 3*width"
        )
    height = len(pixels) // (3 * width)
    _check_dims(width, height)
    bw = _BitWriter()
    bw.lsb(width - 1, 14)
    bw.lsb(height - 1, 14)
    bw.lsb(0, 1)
    bw.lsb(0, 3)
    bw.lsb(0, 1)  # no transforms
    argb = [
        0xFF000000
        | (pixels[3 * i] << 16)
        | (pixels[3 * i + 1] << 8)
        | pixels[3 * i + 2]
        for i in range(width * height)
    ]
    _emit_entropy_image(bw, argb, is_main=True)
    return _container(bw.bytes())
