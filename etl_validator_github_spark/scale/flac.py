"""FLAC codec (RFC 9639 subset, lossless) — stdlib plus numpy for the
encoder's Rice planning; no codec libraries.

Decoder: ``fLaC`` magic, STREAMINFO parse + metadata-block skip, frame
header parse (every block-size code including the 8/16-bit
end-of-header forms, every sample-rate code, the extended-UTF-8 coded
frame/sample number, CRC-8), subframe types CONSTANT / VERBATIM /
FIXED(0-4) / LPC(1-32) with wasted-bits shifts, Rice-coded residuals
(both 4- and 5-bit parameter widths, any partition order, escape
partitions), stereo decorrelation (left/side, right/side, mid/side —
the side channel carries one extra bit), per-frame CRC-16, and the
STREAMINFO MD5 check over the whole decoded stream. Truncated input,
bad CRCs, reserved codes and bytes trailing the final frame all raise
(declared errors, never silent wrong samples).

Encoder: mono or stereo, 16 bits per sample. Per frame it picks the
cheapest of CONSTANT / VERBATIM / the five fixed predictors by exact
coded bit cost, with the Rice partition order and per-partition
parameters searched exactly (partitioning isolates rare large
residuals such as sawtooth wraps), and supports all four stereo
assignments (``independent`` / ``left_side`` / ``right_side`` /
``mid_side``).
FLAC is lossless, so encode→decode is exact integer identity — which
is what lets the gate query's DuckDB oracle recompute decoded-signal
statistics from the fixture's closed-form waveform without parsing a
byte (see ``multimodal._FLAC_STATS_SQL``).

LPC *encoding* (Levinson-Durbin analysis) is deliberately absent: the
fixed predictors already compress the fixtures and every FLAC decoder
must handle them; the decoder side of LPC is implemented and tested
via hand-built bitstreams.

Reference behavior studied from HassanB613/etl-validator-github (the
reference ships no media codecs; its pipelines treat binary payloads
as opaque — see extract/GENERIC_FILE_PIPE.py). This module exists for
the training-data side of the engine, where FLAC is the dominant
lossless audio wire format.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

FLAC_MAGIC = b"fLaC"

#: Frame-header sync code: 14 bits ``11111111111110``.
_SYNC = 0x3FFE

#: RFC 9639 fixed-predictor coefficients by order (x[i] minus the
#: predicted value gives the residual).
_FIXED_COEF = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))

#: Sample-rate code table (frame header bits 0b0001-0b1011).
_RATE_TABLE = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}

#: Bits-per-sample code table (0b000 = from STREAMINFO; 0b011 reserved).
_BPS_TABLE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0, MSB-first —
    the FLAC frame-header checksum."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0,
    MSB-first — the FLAC whole-frame checksum."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005 if crc & 0x8000
                   else crc << 1) & 0xFFFF
    return crc


class _BitWriter:
    """MSB-first bit accumulator (FLAC has no byte stuffing)."""

    def __init__(self) -> None:
        self._buf = bytearray()
        self._acc = 0
        self._nacc = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nacc += nbits
        while self._nacc >= 8:
            self._nacc -= 8
            self._buf.append((self._acc >> self._nacc) & 0xFF)
        self._acc &= (1 << self._nacc) - 1

    def write_unary(self, q: int) -> None:
        """``q`` zero bits then a one bit (RFC 9639 unary)."""
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self._nacc:
            self.write(0, 8 - self._nacc)

    def getvalue(self) -> bytes:
        assert self._nacc == 0, "unaligned"
        return bytes(self._buf)


class _BitReader:
    """MSB-first bit reader with byte-offset access so callers can CRC
    the raw frame bytes (headers and frames are byte-aligned at every
    CRC site by construction)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self._data = data
        self._pos = pos          # next byte
        self._acc = 0
        self._nacc = 0

    @property
    def byte_pos(self) -> int:
        assert self._nacc == 0, "unaligned byte_pos"
        return self._pos

    def read(self, nbits: int) -> int:
        while self._nacc < nbits:
            if self._pos >= len(self._data):
                raise ValueError("FLAC: truncated stream")
            self._acc = (self._acc << 8) | self._data[self._pos]
            self._pos += 1
            self._nacc += 8
        self._nacc -= nbits
        out = (self._acc >> self._nacc) & ((1 << nbits) - 1)
        self._acc &= (1 << self._nacc) - 1
        return out

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v >> (nbits - 1) else v

    def read_unary(self) -> int:
        """Leading zeros up to and including the terminating 1 bit —
        scanned a whole accumulator chunk at a time (r14; the bit-by-bit
        loop was the decoder's hottest call site), not bit by bit.
        ``bit_length`` of the pending chunk finds the highest set bit
        exactly; all-zero chunks are consumed whole."""
        q = 0
        while True:
            if self._nacc == 0:
                if self._pos >= len(self._data):
                    raise ValueError("FLAC: truncated stream")
                self._acc = self._data[self._pos]
                self._pos += 1
                self._nacc = 8
            top = self._acc.bit_length()
            if top == 0:                 # chunk is all zeros: eat it
                q += self._nacc
                self._nacc = 0
                continue
            q += self._nacc - top        # zeros above the first 1
            self._nacc = top - 1         # consume them and the 1
            self._acc &= (1 << self._nacc) - 1
            return q

    def align(self) -> None:
        self._nacc = 0
        self._acc = 0


def _utf8_encode_number(n: int) -> bytes:
    """FLAC's extended UTF-8 number coding (plain UTF-8 shape, widened
    to 7 bytes / 36 bits for sample numbers)."""
    if n < 0x80:
        return bytes([n])
    for nbytes, cap in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31),
                        (7, 36)):
        if n < (1 << cap):
            lead_mask = (0xFF << (8 - nbytes)) & 0xFF
            out = bytearray(nbytes)
            for i in range(nbytes - 1, 0, -1):
                out[i] = 0x80 | (n & 0x3F)
                n >>= 6
            out[0] = lead_mask | n
            return bytes(out)
    raise ValueError("FLAC: coded number exceeds 36 bits")


def _utf8_decode_number(br: _BitReader) -> int:
    lead = br.read(8)
    if lead < 0x80:
        return lead
    nbytes = 0
    mask = 0x80
    while lead & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("FLAC: malformed coded number")
    n = lead & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        cont = br.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("FLAC: malformed coded-number continuation")
        n = (n << 6) | (cont & 0x3F)
    return n


def _zigzag(x: int) -> int:
    return (x << 1) if x >= 0 else (-(x << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# ---------------------------------------------------------------------------
# decode


def _read_residual(br: _BitReader, blocksize: int,
                   order: int) -> "list[int]":
    method = br.read(2)
    if method > 1:
        raise ValueError("FLAC: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("FLAC: block size not divisible by partitions")
    res: list[int] = []
    for p in range(nparts):
        count = (blocksize >> porder) - (order if p == 0 else 0)
        if count < 0:
            raise ValueError("FLAC: invalid partition order")
        param = br.read(pbits)
        if param == escape:
            width = br.read(5)
            if width == 0:
                res.extend([0] * count)
            else:
                res.extend(br.read_signed(width) for _ in range(count))
        else:
            for _ in range(count):
                q = br.read_unary()
                res.append(_unzigzag((q << param) | br.read(param)))
    return res


def _read_subframe(br: _BitReader, blocksize: int,
                   bps: int) -> "list[int]":
    if br.read(1):
        raise ValueError("FLAC: subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1 + br.read_unary()
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC: wasted bits exhaust the sample size")
    if stype == 0:                                   # CONSTANT
        x = [br.read_signed(eff)] * blocksize
    elif stype == 1:                                 # VERBATIM
        x = [br.read_signed(eff) for _ in range(blocksize)]
    elif 8 <= stype <= 12:                           # FIXED 0-4
        order = stype - 8
        if order > blocksize:
            raise ValueError("FLAC: fixed order exceeds block size")
        warm = [br.read_signed(eff) for _ in range(order)]
        res = _read_residual(br, blocksize, order)
        if order == 0:
            x = res
        else:
            # The order-k fixed predictor's residual IS the k-th finite
            # difference, so reconstruction is k nested prefix sums,
            # each seeded with the leading element of the next-lower
            # difference of the warmup samples (exact int64 — 17-bit
            # samples through 4th differences stay far inside range).
            w = np.asarray(warm, dtype=np.int64)
            v = np.asarray(res, dtype=np.int64)
            for j in range(order - 1, -1, -1):
                head = np.diff(w, j)[0] if j else w[0]
                v = np.cumsum(np.concatenate(([head], v)))
            x = v.tolist()
    elif stype >= 32:                                # LPC
        order = (stype & 0x1F) + 1
        if order > blocksize:
            raise ValueError("FLAC: LPC order exceeds block size")
        x = [br.read_signed(eff) for _ in range(order)]
        prec = br.read(4)
        if prec == 0xF:
            raise ValueError("FLAC: invalid LPC precision code")
        prec += 1
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coef = [br.read_signed(prec) for _ in range(order)]
        for r in _read_residual(br, blocksize, order):
            pred = sum(c * x[-1 - j] for j, c in enumerate(coef)) >> shift
            x.append(pred + r)
    else:
        raise ValueError(f"FLAC: reserved subframe type {stype}")
    if wasted:
        x = [v << wasted for v in x]
    return x


def _decode_frame(data: bytes, pos: int, stream_rate: int,
                  stream_bps: int) -> "tuple[int, list[list[int]], int]":
    """One frame at byte offset ``pos`` → (blocksize, per-channel
    samples, next byte offset)."""
    br = _BitReader(data, pos)
    if br.read(14) != _SYNC:
        raise ValueError("FLAC: lost frame sync")
    br.read(1)                         # reserved
    br.read(1)                         # blocking strategy (either is fine)
    bs_code = br.read(4)
    sr_code = br.read(4)
    chan_code = br.read(4)
    bps_code = br.read(3)
    if br.read(1):
        raise ValueError("FLAC: frame-header reserved bit set")
    _utf8_decode_number(br)            # frame/sample number
    if bs_code == 0:
        raise ValueError("FLAC: reserved block-size code")
    elif bs_code == 1:
        blocksize = 192
    elif bs_code <= 5:
        blocksize = 576 << (bs_code - 2)
    elif bs_code == 6:
        blocksize = br.read(8) + 1
    elif bs_code == 7:
        blocksize = br.read(16) + 1
    else:
        blocksize = 256 << (bs_code - 8)
    if sr_code == 0:
        rate = stream_rate
    elif sr_code in _RATE_TABLE:
        rate = _RATE_TABLE[sr_code]
    elif sr_code == 12:
        rate = br.read(8) * 1000
    elif sr_code == 13:
        rate = br.read(16)
    elif sr_code == 14:
        rate = br.read(16) * 10
    else:
        raise ValueError("FLAC: invalid sample-rate code")
    if rate != stream_rate:
        raise ValueError("FLAC: frame sample rate contradicts STREAMINFO")
    if bps_code == 0:
        bps = stream_bps
    elif bps_code in _BPS_TABLE:
        bps = _BPS_TABLE[bps_code]
    else:
        raise ValueError("FLAC: reserved sample-size code")
    if bps != stream_bps:
        raise ValueError("FLAC: frame sample size contradicts STREAMINFO")
    crc8_end = br.byte_pos
    if _crc8(data[pos:crc8_end]) != br.read(8):
        raise ValueError("FLAC: frame-header CRC-8 mismatch")

    if chan_code <= 7:
        chans = [_read_subframe(br, blocksize, bps)
                 for _ in range(chan_code + 1)]
    elif chan_code <= 10:              # stereo decorrelation
        side_first = chan_code == 9    # right/side stores side in ch 0
        bps0 = bps + (1 if side_first else 0)
        bps1 = bps + (0 if side_first else 1)
        c0 = np.asarray(_read_subframe(br, blocksize, bps0),
                        dtype=np.int64)
        c1 = np.asarray(_read_subframe(br, blocksize, bps1),
                        dtype=np.int64)
        if chan_code == 8:             # left/side
            chans = [c0.tolist(), (c0 - c1).tolist()]
        elif chan_code == 9:           # right/side
            chans = [(c0 + c1).tolist(), c1.tolist()]
        else:                          # mid/side
            m = (c0 << 1) | (c1 & 1)
            chans = [((m + c1) >> 1).tolist(), ((m - c1) >> 1).tolist()]
    else:
        raise ValueError("FLAC: reserved channel assignment")
    br.align()
    crc16_end = br.byte_pos
    if _crc16(data[pos:crc16_end]) != br.read(16):
        raise ValueError("FLAC: frame CRC-16 mismatch")
    return blocksize, chans, br.byte_pos


def decode_flac(payload: bytes) -> "tuple[int, int, list[int]]":
    """FLAC stream → (sample_rate, n_channels, channel-interleaved
    samples). Verifies every frame CRC and, when STREAMINFO carries a
    non-zero MD5, the whole-stream signature; rejects bytes trailing
    the final frame (corrupt / concatenated payloads — same strictness
    rule as ``decode_ppm``)."""
    data = bytes(payload)
    if data[:4] != FLAC_MAGIC:
        raise ValueError("FLAC: bad magic")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("FLAC: truncated metadata")
        last = data[pos] >> 7
        btype = data[pos] & 0x7F
        blen = int.from_bytes(data[pos + 1:pos + 4], "big")
        body = data[pos + 4:pos + 4 + blen]
        if len(body) != blen:
            raise ValueError("FLAC: truncated metadata block")
        if btype == 0:
            if blen != 34:
                raise ValueError("FLAC: STREAMINFO must be 34 bytes")
            info = body
        elif btype == 127:
            raise ValueError("FLAC: invalid metadata block type 127")
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("FLAC: missing STREAMINFO")
    packed = int.from_bytes(info[10:18], "big")
    rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bps = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    md5_expect = info[18:34]
    if rate == 0:
        raise ValueError("FLAC: sample rate 0")

    decoded = 0
    out: list[int] = []
    while (decoded < total) if total else (pos < len(data)):
        blocksize, chans, pos = _decode_frame(data, pos, rate, bps)
        if len(chans) != channels:
            raise ValueError("FLAC: channel count contradicts STREAMINFO")
        if total and decoded + blocksize > total:
            raise ValueError("FLAC: more samples than STREAMINFO declares")
        if len(chans) == 1:
            out.extend(chans[0])
        else:
            out.extend(np.column_stack(
                [np.asarray(ch, dtype=np.int64) for ch in chans]
            ).ravel().tolist())
        decoded += blocksize
    if pos != len(data):
        raise ValueError(
            f"FLAC: {len(data) - pos} trailing bytes after the final "
            "frame (corrupt or concatenated payload)"
        )
    if md5_expect != b"\x00" * 16 and bps % 8 == 0:
        width = bps // 8
        if width in (1, 2, 4, 8):
            raw = np.asarray(out, dtype=f"<i{width}").tobytes()
        else:  # 24-bit streams have no native numpy width
            raw = b"".join(
                s.to_bytes(width, "little", signed=True) for s in out
            )
        if hashlib.md5(raw).digest() != md5_expect:
            raise ValueError("FLAC: decoded-stream MD5 mismatch")
    return rate, channels, out


# ---------------------------------------------------------------------------
# encode


#: Encoder cap on the Rice partition order (2^6 = 64 partitions is
#: libFLAC's default ceiling too); the decoder accepts any order.
_MAX_PORDER = 6

#: Rice parameter axis for the vectorized planner (hoisted: these are
#: rebuilt tens of thousands of times per encode batch otherwise).
_P_COL = np.arange(31, dtype=np.int64)[:, None]
_INT64_MAX = np.iinfo(np.int64).max


#: Cached per-pmax index arrays for the fused planner: partition
#: (start, end) column indices into the finest level's prefix sums,
#: for every porder level concatenated finest-first, plus each level's
#: first column offset. Pure functions of pmax (0..6), built once.
_LEVEL_IDX: "dict[int, tuple[np.ndarray, np.ndarray, list[int]]]" = {}


def _level_idx(pmax: int) -> "tuple[np.ndarray, np.ndarray, list[int]]":
    got = _LEVEL_IDX.get(pmax)
    if got is None:
        starts, ends, seg_off = [], [], []
        off = 0
        for k in range(pmax + 1):              # k=0 finest … pmax coarsest
            m = 1 << (pmax - k)
            seg_off.append(off)
            starts.append(np.arange(m, dtype=np.intp) << k)
            ends.append((np.arange(1, m + 1, dtype=np.intp)) << k)
            off += m
        got = (np.concatenate(starts), np.concatenate(ends), seg_off)
        _LEVEL_IDX[pmax] = got
    return got


def _plan_subframe_np(x: "np.ndarray", n: int, bps: int) \
        -> "tuple[int, int, np.ndarray, int, int, list[int]]":
    """One fused pass over every (fixed order, partition order,
    partition, Rice parameter) choice of a subframe — the scalar
    per-order residual planner for all five orders at once, vectorized (r14, guide §4.2: hand
    whole arrays to numpy instead of looping in Python). Returns
    (bits, order, us, porder, method, params).

    Exactness: same integer costs, the same first-improvement argmin,
    the same early-break window and the same ascending-(order, porder)
    tie-breaks as the scalar scans — so the chosen parameters, and the
    encoded bytes, are identical (pinned by the encode-bytes regression
    test and a randomized scalar≡numpy equivalence test). The scalar
    scan's early break ("stop once cost exceeds the running best by
    8·n") is replicated per column: with prefix-min pm over the cost
    column, the break fires at the first p ≥ 1 where
    cost[p] > pm[p−1] + 8·n, and only p before that point are
    candidates; np.argmin's first-occurrence rule is the scan's
    strict-improvement tie-break."""
    tab_parts, cnt_parts = [], []
    order_meta = []          # (order, us, pmax, first segment index)
    n_segs = 0
    res = x
    for order in range(min(4, n - 1) + 1):
        if order:            # order-k residual = k-th finite difference
            res = np.diff(res)
        us = np.where(res >= 0, res << 1, (-res << 1) - 1)
        pmax = 0
        while (pmax < _MAX_PORDER
               and n % (1 << (pmax + 1)) == 0
               and (n >> (pmax + 1)) > order):
            pmax += 1
        nparts = 1 << pmax
        size = n >> pmax
        # Σ(u>>p) per finest partition for every p: a (31, n-order)
        # shift matrix reduced at the partition boundaries (partition 0
        # is `order` samples short — warmup samples live in the
        # header); every coarser level's sums come from the finest
        # level's prefix sums via the cached index arrays.
        shifts = us[None, :] >> _P_COL
        bounds = np.arange(nparts, dtype=np.intp) * size
        bounds[1:] -= order
        fine = np.add.reduceat(shifts, bounds, axis=1)   # (31, nparts)
        cfine = np.zeros((31, nparts + 1), dtype=np.int64)
        np.cumsum(fine, axis=1, out=cfine[:, 1:])
        starts, ends, _seg = _level_idx(pmax)
        tab_parts.append(cfine[:, ends] - cfine[:, starts])
        cnts = (ends - starts).astype(np.int64) * size
        cnts[starts == 0] -= order
        cnt_parts.append(cnts)
        order_meta.append((order, us, pmax, n_segs))
        n_segs += pmax + 1

    # One fused argmin-with-early-break over every column of every
    # order's every level.
    t_all = tab_parts[0] if len(tab_parts) == 1 \
        else np.concatenate(tab_parts, axis=1)
    c_all = cnt_parts[0] if len(cnt_parts) == 1 \
        else np.concatenate(cnt_parts)
    cost = t_all + (_P_COL + 1) * c_all[None, :]
    pm = np.minimum.accumulate(cost, axis=0)
    brk = cost[1:] > pm[:-1] + 8 * c_all[None, :]
    lim = np.where(brk.any(axis=0), brk.argmax(axis=0) + 1, 31)
    masked = np.where(_P_COL < lim[None, :], cost, _INT64_MAX)
    params_all = masked.argmin(axis=0)
    # masked == cost at the argmin, so the per-column best cost is the
    # column minimum — no gather needed.
    best_all = masked.min(axis=0)

    # Per-(order, porder) totals in two reduceats, then a pure-python
    # walk in the scalar loops' exact visit order.
    seg_starts = []
    col = 0
    for _, _, pmax, _ in order_meta:
        _s, _e, seg_off = _level_idx(pmax)
        seg_starts.extend(col + o for o in seg_off)
        col += (1 << (pmax + 1)) - 1
    seg_idx = np.asarray(seg_starts, dtype=np.intp)
    seg_bits = np.add.reduceat(best_all, seg_idx).tolist()
    seg_maxp = np.maximum.reduceat(params_all, seg_idx).tolist()
    seg_col = seg_starts

    best = None      # (bits, order, us, porder, method, col, m)
    for order, us, pmax, seg0 in order_meta:
        plan = None  # (total, porder, method, col, m)
        for porder in range(pmax + 1):
            seg = seg0 + (pmax - porder)     # levels are finest-first
            m = 1 << porder
            method = 1 if seg_maxp[seg] > 14 else 0
            total = 2 + 4 + m * (5 if method else 4) + seg_bits[seg]
            if plan is None or total < plan[0]:
                plan = (total, porder, method, seg_col[seg], m)
        total, porder, method, col0, m = plan
        sub_bits = order * bps + total
        if best is None or sub_bits < best[0]:
            best = (sub_bits, order, us, porder, method, col0, m)
    bits, order, us, porder, method, col0, m = best
    params = params_all[col0:col0 + m].tolist()
    return bits, order, us, porder, method, params


def _write_subframe(bw: _BitWriter, x: "np.ndarray", bps: int) -> None:
    """``x`` is an int64 numpy vector; residuals, zigzags and the Rice
    plan are computed vectorized (exact integer ops throughout — 16-bit
    samples through a 4th-order difference and a zigzag stay far inside
    int64), then the chosen plan is emitted bit-serially."""
    n = len(x)
    x0 = int(x[0])
    if bool((x == x[0]).all()):
        bw.write(0, 1 + 6 + 1)                       # pad, CONSTANT, wasted
        bw.write(x0, bps)
        return
    # the cheapest fixed order by exact coded size; the order-k fixed
    # residual IS the k-th finite difference (_FIXED_COEF rows are the
    # alternating binomials).
    bits, order, us, porder, method, params = _plan_subframe_np(x, n, bps)
    if bits >= n * bps:                               # VERBATIM is cheaper
        bw.write(1 << 1, 1 + 6 + 1)                   # type 1, no wasted
        for v in x.tolist():
            bw.write(v, bps)
        return
    bw.write((8 + order) << 1, 1 + 6 + 1)             # FIXED, no wasted
    for v in x[:order].tolist():
        bw.write(v, bps)
    bw.write(method, 2)
    bw.write(porder, 4)
    us_list = us.tolist()                  # python ints for the writer
    pos = 0
    for p, param in enumerate(params):
        count = (n >> porder) - (order if p == 0 else 0)
        bw.write(param, 5 if method else 4)
        for u in us_list[pos:pos + count]:
            bw.write_unary(u >> param)
            bw.write(u, param)
        pos += count


def encode_flac(sample_rate: int, samples: "list[int]",
                channels: int = 1, stereo_mode: str = "independent",
                block_size: int = 192) -> bytes:
    """Mono or stereo 16-bit FLAC writer. ``samples`` is channel-
    interleaved when ``channels == 2``; ``stereo_mode`` selects the
    channel assignment (``independent`` / ``left_side`` /
    ``right_side`` / ``mid_side`` — the decorrelated modes are exact
    integer transforms, so every mode round-trips losslessly)."""
    if channels not in (1, 2):
        raise ValueError("only mono and stereo encode here")
    if channels == 1 and stereo_mode != "independent":
        raise ValueError("stereo_mode applies to stereo input only")
    if len(samples) == 0 or len(samples) % channels:
        raise ValueError("sample count must be a positive multiple "
                         "of the channel count")
    if not 0 < sample_rate < (1 << 20):
        raise ValueError("sample rate out of STREAMINFO range")
    sa = np.asarray(samples)
    if not np.issubdtype(sa.dtype, np.integer):
        raise ValueError("samples must be integers")
    sa = sa.astype(np.int64, copy=False)
    if int(sa.min()) < -32768 or int(sa.max()) > 32767:
        raise ValueError("samples must fit 16 bits")
    bps = 16
    n = sa.size // channels
    chan_data = [sa[c::channels] for c in range(channels)]

    frames = bytearray()
    sizes: list[int] = []
    blocksizes: list[int] = []
    for fno, start in enumerate(range(0, n, block_size)):
        bs = min(block_size, n - start)
        blocksizes.append(bs)
        block = [cd[start:start + bs] for cd in chan_data]
        if channels == 2 and stereo_mode != "independent":
            left, right = block
            side = left - right
            if stereo_mode == "left_side":
                chan_code, subs = 8, [(left, bps), (side, bps + 1)]
            elif stereo_mode == "right_side":
                chan_code, subs = 9, [(side, bps + 1), (right, bps)]
            elif stereo_mode == "mid_side":
                mid = (left + right) >> 1
                chan_code, subs = 10, [(mid, bps), (side, bps + 1)]
            else:
                raise ValueError(f"unknown stereo_mode {stereo_mode!r}")
        else:
            chan_code = channels - 1
            subs = [(ch, bps) for ch in block]

        head = _BitWriter()
        head.write(_SYNC, 14)
        head.write(0, 1)                  # reserved
        head.write(0, 1)                  # fixed blocking strategy
        head.write(0b0111, 4)             # block size: 16 bits at end
        head.write(0, 4)                  # sample rate: from STREAMINFO
        head.write(chan_code, 4)
        head.write(0b100, 3)              # 16 bits per sample
        head.write(0, 1)                  # reserved
        head.align()
        hbytes = bytearray(head.getvalue())
        hbytes += _utf8_encode_number(fno)
        hbytes += struct.pack(">H", bs - 1)
        hbytes.append(_crc8(bytes(hbytes)))

        body = _BitWriter()
        for ch, ch_bps in subs:
            _write_subframe(body, ch, ch_bps)
        body.align()
        frame = bytes(hbytes) + body.getvalue()
        frame += struct.pack(">H", _crc16(frame))
        frames += frame
        sizes.append(len(frame))

    raw = sa.astype("<i2").tobytes()
    info = bytearray()
    info += struct.pack(">HH", min(blocksizes), max(blocksizes))
    info += min(sizes).to_bytes(3, "big") + max(sizes).to_bytes(3, "big")
    packed = (sample_rate << 44) | ((channels - 1) << 41) \
        | ((bps - 1) << 36) | n
    info += packed.to_bytes(8, "big")
    info += hashlib.md5(raw).digest()
    header = bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)
    return FLAC_MAGIC + header + frames
