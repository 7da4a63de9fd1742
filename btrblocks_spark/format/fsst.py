"""FSST — Fast Static Symbol Table string compression.

Independent pure-Python implementation of the published algorithm (Boncz,
Neumann, Leis: "FSST: Fast Random Access String Compression", PVLDB 13(3),
2019). The reference embeds the authors' C library and uses it as its
signature string scheme (scheme/string/Fsst.cpp:17-127; dictionary pools are
also FSST-compressed, scheme/string/DynamicDictionary.cpp:69-152).

Model, exactly as published:
  * a static table of at most 254 symbols, each a byte sequence of length
    1..8; code 255 is the escape marker (escape + literal byte = 2 bytes out
    for 1 byte in).
  * encoding is greedy longest-match against the table, one output byte per
    matched symbol — random access per string, no cross-string state.
  * the table is trained bottom-up over a few generations: parse a sample
    with the current table, count symbol and concatenated-pair frequencies,
    keep the ``max_symbols`` candidates with the highest gain
    (frequency x length).

Everything is deterministic (stable tie-breaks, fixed sample prefix), so the
same input always yields the same table, sizes, and bytes — required for the
planner's reproducible size estimates and the oracle-checked metadata.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np

ESCAPE = 255
MAX_SYMBOLS = 254
MAX_SYMBOL_LEN = 8
_TRAIN_GENERATIONS = 5
_TRAIN_CAP_BYTES = 1 << 16  # train on at most 64 KiB of sample text


@dataclass
class SymbolTable:
    symbols: list[bytes]  # code i encodes symbols[i]

    def __post_init__(self):
        self.lookup = {s: i for i, s in enumerate(self.symbols)}
        # candidate match lengths per leading byte, longest first — the
        # greedy encoder probes only lengths that can actually match
        by_first: dict[int, set[int]] = {}
        for s in self.symbols:
            by_first.setdefault(s[0], set()).add(len(s))
        self.lens_by_first = {b: sorted(ls, reverse=True) for b, ls in by_first.items()}

    def serialized_size(self) -> int:
        """On-disk table cost: 8-byte header + (length byte + payload) per
        symbol — the layout cost model of the C library's export."""
        return 8 + sum(1 + len(s) for s in self.symbols)

    def _np_tables(self):
        """Per-length sorted uint64 window keys + codes for the vectorized
        matcher (built lazily, cached). A length-L symbol becomes the
        big-endian integer of its L bytes — distinct symbols of one length
        always get distinct keys, so table membership is a searchsorted."""
        cached = getattr(self, "_np_cache", None)
        if cached is not None:
            return cached
        per_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        by_len: dict[int, list[tuple[int, int]]] = {}
        for code, s in enumerate(self.symbols):
            key = int.from_bytes(s, "big")
            by_len.setdefault(len(s), []).append((key, code))
        for L, pairs in by_len.items():
            pairs.sort()
            keys = np.array([k for k, _ in pairs], dtype=np.uint64)
            codes = np.array([c for _, c in pairs], dtype=np.uint8)
            per_len[L] = (keys, codes)
        self._np_cache = per_len
        return per_len


def _parse(table: SymbolTable, data: bytes) -> list[bytes]:
    """Greedy longest-match tokenization; unmatched bytes become 1-byte
    escape tokens. Shared by training (to count pairs) and sizing."""
    lookup = table.lookup
    lens_by_first = table.lens_by_first
    tokens: list[bytes] = []
    i, n = 0, len(data)
    while i < n:
        hit = None
        for L in lens_by_first.get(data[i], ()):
            if L <= n - i:
                cand = data[i : i + L]
                if cand in lookup:
                    hit = cand
                    break
        if hit is None:
            tokens.append(data[i : i + 1])
            i += 1
        else:
            tokens.append(hit)
            i += L
    return tokens


def train(strings: list[bytes], max_symbols: int = MAX_SYMBOLS) -> SymbolTable:
    """Bottom-up symbol table construction on a bounded sample prefix.
    Symbols never span string boundaries (per-string random access).

    Uses the C tokenizer + vectorized gain counting when available
    (bit-identical tables — same greedy parse, same gain totals, same
    stable tie-break); falls back to the pure-Python Counter loop."""
    sample: list[bytes] = []
    budget = _TRAIN_CAP_BYTES
    for s in strings:
        if budget <= 0:
            break
        if s:
            sample.append(s[:budget])
            budget -= len(s)

    fast = _train_gains_native(sample, max_symbols)
    if fast is not None:
        return fast

    table = SymbolTable([])
    for _ in range(_TRAIN_GENERATIONS):
        gain: Counter[bytes] = Counter()
        for s in sample:
            tokens = _parse(table, s)
            for t in tokens:
                gain[t] += len(t)
            for a, b in zip(tokens, tokens[1:]):
                if len(a) + len(b) <= MAX_SYMBOL_LEN:
                    gain[a + b] += len(a) + len(b)
        # escapes make 1-byte symbols worth having only when frequent, but
        # gain already orders by total bytes covered; stable tie-break on the
        # symbol bytes keeps the table deterministic
        best = sorted(gain.items(), key=lambda kv: (-kv[1], kv[0]))[:max_symbols]
        table = SymbolTable([s for s, _ in best])
    return table


def _train_gains_native(sample: list[bytes], max_symbols: int) -> SymbolTable | None:
    """C-tokenized training: per generation, parse the sample with the C
    greedy matcher (token ids: symbol index, 256+byte for literals, -1
    between strings) and count gains with np.unique — occurrences × length
    for every token and every adjacent same-string pair ≤ 8 bytes, exactly
    the Counter semantics of the Python loop."""
    from btrblocks_spark.format import fsst_native as nat

    if nat.lib is None or not sample:
        return None
    buf, starts, ends, lens = _concat(sample)
    n = len(buf)
    padded = np.zeros(n + 8, dtype=np.uint8)
    padded[:n] = buf
    str_off = np.zeros(len(sample) + 1, dtype=np.int64)
    str_off[1:] = ends
    cap = n + len(sample) + 8
    toks = np.empty(cap, dtype=np.int16)

    table = SymbolTable([])
    for _ in range(_TRAIN_GENERATIONS):
        sym_bytes, sym_lens = _native_tables(table)
        m = nat.lib.fsst_parse_tokens(
            nat.ffi.cast("const uint8_t *", nat.ffi.from_buffer(sym_bytes)),
            nat.ffi.cast("const uint8_t *", nat.ffi.from_buffer(sym_lens)),
            len(table.symbols),
            nat.ffi.cast("const uint8_t *", nat.ffi.from_buffer(padded)),
            nat.ffi.cast("const int64_t *", nat.ffi.from_buffer(str_off)),
            len(sample),
            nat.ffi.cast("int16_t *", nat.ffi.from_buffer(toks)),
            cap,
        )
        if m < 0:
            return None
        t = toks[:m].astype(np.int64)
        symbols = table.symbols
        # per token id: byte length and big-endian value (ids 256+b are the
        # escaped literal byte b)
        lens_arr = np.zeros(512, dtype=np.int64)
        vals_arr = np.zeros(512, dtype=np.uint64)
        for i, s in enumerate(symbols):
            lens_arr[i] = len(s)
            vals_arr[i] = int.from_bytes(s, "big")
        lens_arr[256:] = 1
        vals_arr[256:] = np.arange(256, dtype=np.uint64)

        pos_mask = t >= 0
        tp = t[pos_mask]
        svals = vals_arr[tp]
        slens = lens_arr[tp]
        # adjacent same-string pairs ≤ 8 bytes: candidate concatenations
        a, b2 = t[:-1], t[1:]
        valid = (a >= 0) & (b2 >= 0)
        ac = np.where(valid, a, 0)
        bc = np.where(valid, b2, 0)
        ls = lens_arr[ac] + lens_arr[bc]
        valid &= ls <= MAX_SYMBOL_LEN
        pvals = (vals_arr[ac] << (lens_arr[bc] * 8).astype(np.uint64)) | vals_arr[bc]
        pvals = pvals[valid]
        plens = ls[valid]

        # identical byte strings have identical length, so gains merge
        # within a length group: occurrences × L = count × L
        g_parts, l_parts, v_parts = [], [], []
        for L in range(1, MAX_SYMBOL_LEN + 1):
            grp = np.concatenate([svals[slens == L], pvals[plens == L]])
            if not grp.size:
                continue
            u, c = np.unique(grp, return_counts=True)
            totals = c * L
            if len(u) > max_symbols:
                # exact per-length top-k under the global ordering: within
                # one length, byte order == value order, and np.unique
                # returns values ascending — a STABLE sort on -totals keeps
                # that order inside gain ties
                order = np.argsort(-totals, kind="stable")[:max_symbols]
                u, totals = u[order], totals[order]
            g_parts.append(totals)
            l_parts.append(np.full(len(u), L, dtype=np.int64))
            v_parts.append(u)
        # exact global ordering, fully vectorized: gain desc, then symbol
        # BYTES asc (the Python Counter loop's stable tie-break). Byte
        # order across lengths == (left-aligned value asc, length asc):
        # equal left-aligned prefixes compare by length (shorter = prefix =
        # smaller), so lexsort on (L, leftval, -gain) reproduces the
        # to_bytes comparison without building 5k Python byte keys
        gains = np.concatenate(g_parts) if g_parts else np.zeros(0, np.int64)
        ls = np.concatenate(l_parts) if l_parts else np.zeros(0, np.int64)
        vs = np.concatenate(v_parts) if v_parts else np.zeros(0, np.uint64)
        left = vs << ((8 - ls) * 8).astype(np.uint64)
        order = np.lexsort((ls, left, -gains))[:max_symbols]
        table = SymbolTable(
            [
                int(vs[i]).to_bytes(int(ls[i]), "big")
                for i in order.tolist()
            ]
        )
    return table


def compress(table: SymbolTable, data: bytes) -> bytes:
    """Encode one string: one byte per matched symbol, ESCAPE + literal for
    uncovered bytes."""
    lookup = table.lookup
    lens_by_first = table.lens_by_first
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        code = None
        for L in lens_by_first.get(data[i], ()):
            if L <= n - i:
                code = lookup.get(data[i : i + L])
                if code is not None:
                    break
        if code is None:
            out.append(ESCAPE)
            out.append(data[i])
            i += 1
        else:
            out.append(code)
            i += L
    return bytes(out)


def decompress(table: SymbolTable, codes: bytes) -> bytes:
    symbols = table.symbols
    out = bytearray()
    i, n = 0, len(codes)
    while i < n:
        c = codes[i]
        if c == ESCAPE:
            out.append(codes[i + 1])
            i += 2
        else:
            out += symbols[c]
            i += 1
    return bytes(out)


def estimate_compressed_size(data: bytes, encode_cap: int = 1 << 17) -> int:
    """Deterministic size estimate for a byte pool: train on the prefix,
    encode up to ``encode_cap`` bytes, scale the ratio to the full pool.
    Used for dictionary-pool sizing (the reference FSST-compresses dict
    pools >= 16 KiB, DynamicDictionary.cpp:54-56) where an exact encode of a
    multi-MiB pool would be wasted work for a cost model."""
    if not data:
        return 0
    table = train([data])
    probe = data[:encode_cap]
    enc = len(compress_batch(table, [probe])[0])
    ratio = max(len(probe) / max(enc, 1), 1e-9)
    return int(len(data) / ratio) + table.serialized_size()


# ---------------------------------------------------------------------------
# Vectorized batch codec (NumPy)
#
# The scalar compress()/decompress() above are the readable reference path;
# they are ~1 MB/s in CPython — FSST-bound writes at scale. The batch path
# below encodes a whole column chunk at once:
#   1. longest-match resolution runs BLOCK-WISE (64 Ki positions at a time,
#      all scratch buffers preallocated and reused, so every op is
#      cache-resident — allocating full-size temporaries is 20-30x slower
#      on memory-bandwidth-limited hosts) against per-length 2-probe hash
#      tables of the symbol keys (a uint64 multiply-shift hash; equality
#      re-checked, so matches are exact);
#   2. the greedy jump chain is resolved with a FRONTIER loop — one cursor
#      per string, all strings advanced together, so the Python-level loop
#      runs max-tokens-per-string times (not total-tokens times) and every
#      round is pure NumPy. Byte-for-byte identical to the scalar encoder.
# ---------------------------------------------------------------------------

_BLOCK = 1 << 16
_HASH_BITS = 13
_HASH_SLOTS = 1 << _HASH_BITS
_HASH_MULT_SEED = 0x9E3779B97F4A7C15
_MAX_WORKERS = 8


def _build_hash(keys: np.ndarray, codes: np.ndarray):
    """Open-addressing table for ≤255 uint64 keys via a multiply-shift
    hash. Prefers a PERFECT placement (every key in its home slot — one
    gather+compare per lookup); falls back to 2-probe (slot h or h+1) if no
    collision-free multiplier is found quickly. Lookups verify key
    equality, so hashing can never produce a wrong match. Returns
    (mult, tkey, tcode, perfect)."""
    mult = _HASH_MULT_SEED
    best = None
    attempt = 0
    while True:
        tkey = np.zeros(_HASH_SLOTS + 1, dtype=np.uint64)
        tcode = np.zeros(_HASH_SLOTS + 1, dtype=np.uint8)
        used = np.zeros(_HASH_SLOTS + 1, dtype=bool)
        perfect, ok = True, True
        for k, c in zip(keys.tolist(), codes.tolist()):
            h = ((k * mult) & 0xFFFFFFFFFFFFFFFF) >> (64 - _HASH_BITS)
            if not used[h]:
                tkey[h], tcode[h], used[h] = k, c, True
            elif not used[h + 1]:
                tkey[h + 1], tcode[h + 1], used[h + 1] = k, c, True
                perfect = False
            else:
                ok = False
                break
        if ok:
            # zero is a valid key (the NUL symbol) — give empty slots a
            # sentinel that differs from every stored key so a bare
            # equality gather suffices
            sentinel = np.uint64(0xFFFFFFFFFFFFFFFF)
            while sentinel in keys:
                sentinel = np.uint64(int(sentinel) - 1)
            tkey[~used] = sentinel
            if perfect:
                return np.uint64(mult), tkey, tcode, True
            if best is None:
                best = (np.uint64(mult), tkey, tcode, False)
        attempt += 1
        if attempt >= 64 and best is not None:
            return best
        mult = (mult * 0xD1B54A32D192ED03 + 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF


def _match_tables(table: SymbolTable):
    """Per-length hash tables, cached on the SymbolTable."""
    cached = getattr(self_cache := table, "_match_cache", None)
    if cached is not None:
        return cached
    per_len = table._np_tables()
    out = {}
    for L, (keys, codes) in per_len.items():
        out[L] = _build_hash(keys, codes)
    self_cache._match_cache = out
    return out


def _best_match(table: SymbolTable, buf: np.ndarray, str_end: np.ndarray):
    """Per position: longest symbol length (0 = no match, escape) and its
    code. ``str_end[p]`` is the exclusive end of the string containing p —
    symbols never span string boundaries."""
    n = len(buf)
    bl = np.zeros(n, dtype=np.int8)
    code = np.zeros(n, dtype=np.uint8)
    tables = _match_tables(table)
    if not tables or n == 0:
        return bl, code
    max_l = max(tables)
    lens_desc = sorted(tables, reverse=True)

    # bytes remaining in the string at each position, clipped to max_l —
    # one full-size int8 array instead of per-L int64 compares
    pos = np.arange(n, dtype=np.int64)
    tail = np.minimum(str_end - pos, max_l).astype(np.int8)
    del pos

    pad = np.zeros(n + max_l, dtype=np.uint8)
    pad[:n] = buf

    B = _BLOCK
    shift = np.uint64(64 - _HASH_BITS)
    eight = np.uint64(8)
    one = np.uint64(1)

    def run_blocks(block_starts):
        # per-worker scratch, reused across its blocks (cache-resident;
        # full-size temporaries are page-fault-bound on this class of host)
        k8 = np.empty(B, dtype=np.uint64)
        byt = np.empty(B, dtype=np.uint64)
        tmp = np.empty(B, dtype=np.uint64)
        h = np.empty(B, dtype=np.uint64)
        m0 = np.empty(B, dtype=bool)
        m1 = np.empty(B, dtype=bool)
        rem = np.empty(B, dtype=bool)
        for s in block_starts:
            m = min(B, n - s)
            kb, bb, tb, hb = k8[:m], byt[:m], tmp[:m], h[:m]
            m0b, m1b, rb = m0[:m], m1[:m], rem[:m]
            # big-endian key of the max_l-byte window at each position
            kb[:] = pad[s : s + m]
            for j in range(1, max_l):
                np.left_shift(kb, eight, out=kb)
                np.copyto(bb, pad[s + j : s + j + m], casting="unsafe")
                np.bitwise_or(kb, bb, out=kb)
            rb[:] = True
            tail_b = tail[s : s + m]
            bl_b = bl[s : s + m]
            code_b = code[s : s + m]
            cur_l = max_l  # kb currently holds cur_l-byte windows
            for L in lens_desc:
                while cur_l > L:
                    np.right_shift(kb, eight, out=kb)
                    cur_l -= 1
                mult, tkey, tcode, perfect = tables[L]
                np.multiply(kb, mult, out=tb)
                np.right_shift(tb, shift, out=hb)
                np.equal(tkey[hb], kb, out=m0b)
                np.greater_equal(tail_b, L, out=m1b)  # reuse as fits mask
                m0b &= m1b
                m0b &= rb
                if m0b.any():
                    np.copyto(bl_b, np.int8(L), where=m0b)
                    np.copyto(code_b, tcode[hb], where=m0b)
                    rb &= ~m0b
                if not perfect:
                    np.add(hb, one, out=tb)
                    np.equal(tkey[tb], kb, out=m0b)
                    np.greater_equal(tail_b, L, out=m1b)
                    m0b &= m1b
                    m0b &= rb
                    if m0b.any():
                        np.copyto(bl_b, np.int8(L), where=m0b)
                        np.copyto(code_b, tcode[tb], where=m0b)
                        rb &= ~m0b

    starts_all = list(range(0, n, B))
    workers = min(_MAX_WORKERS, len(starts_all))
    if workers <= 1:
        run_blocks(starts_all)
    else:
        # numpy kernels release the GIL; blocks write disjoint bl/code
        # slices, so threading over block stripes is safe and scales
        from concurrent.futures import ThreadPoolExecutor

        stripes = [starts_all[w::workers] for w in range(workers)]
        with ThreadPoolExecutor(max_workers=workers) as ex:
            list(ex.map(run_blocks, stripes))
    return bl, code


def _concat(strings: list[bytes]):
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=len(strings))
    ends = np.cumsum(lens)
    starts = ends - lens
    buf = np.frombuffer(b"".join(strings), dtype=np.uint8)
    return buf, starts, ends, lens


def _native_tables(table: SymbolTable):
    sym_lens = np.fromiter(
        (len(s) for s in table.symbols), dtype=np.uint8, count=len(table.symbols)
    )
    sym_bytes = np.frombuffer(
        b"".join(table.symbols) + b"\0" * 8, dtype=np.uint8
    )
    return sym_bytes, sym_lens


def _pad8(buf: np.ndarray) -> np.ndarray:
    """Zero-pad a uint8 buffer by 8 bytes — the C kernels' overread slack."""
    padded = np.zeros(len(buf) + 8, dtype=np.uint8)
    padded[: len(buf)] = buf
    return padded


def _native_kernel(
    table: SymbolTable, padded: np.ndarray, str_off: np.ndarray, encode: bool
):
    """THE single cffi marshalling point for the C batch kernels. Takes the
    8-zero-padded concatenated byte buffer and its [n_strings+1] int64
    offsets; returns ``(out, out_off)`` numpy arrays (out already sliced to
    the written length) or None when the library is unavailable or the
    kernel reports capacity failure (-1) — callers fall back to the Python
    path. Output capacity contract lives HERE and nowhere else: encode
    worst case is 2 bytes per input byte (every byte escaped), decode worst
    case 8 bytes per code (longest symbol), +16 slack."""
    from btrblocks_spark.format import fsst_native as nat

    if nat.lib is None:
        return None
    n_strings = len(str_off) - 1
    m = len(padded) - 8
    sym_bytes, sym_lens = _native_tables(table)
    str_off = np.ascontiguousarray(str_off, dtype=np.int64)
    cap = (2 * m + 16) if encode else (8 * m + 16)
    out = np.empty(cap, dtype=np.uint8)
    out_off = np.empty(n_strings + 1, dtype=np.int64)
    f = nat.lib.fsst_encode_batch if encode else nat.lib.fsst_decode_batch
    total = f(
        nat.ffi.cast("const uint8_t *", nat.ffi.from_buffer(sym_bytes)),
        nat.ffi.cast("const uint8_t *", nat.ffi.from_buffer(sym_lens)),
        len(table.symbols),
        nat.ffi.cast("const uint8_t *", nat.ffi.from_buffer(padded)),
        nat.ffi.cast("const int64_t *", nat.ffi.from_buffer(str_off)),
        n_strings,
        nat.ffi.cast("uint8_t *", nat.ffi.from_buffer(out)),
        cap,
        nat.ffi.cast("int64_t *", nat.ffi.from_buffer(out_off)),
    )
    if total < 0:
        return None
    return out[:total], out_off


def _strings_native_input(strings: list[bytes]):
    """(padded, str_off) for a list of strings."""
    buf, _starts, ends, _lens = _concat(strings)
    str_off = np.zeros(len(strings) + 1, dtype=np.int64)
    str_off[1:] = ends
    return _pad8(buf), str_off


def _lengths_native_input(payload: bytes, code_lengths: np.ndarray):
    """(padded, str_off) for a concatenated payload + per-string lengths."""
    n = len(code_lengths)
    str_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.asarray(code_lengths, dtype=np.int64), out=str_off[1:])
    return _pad8(np.frombuffer(payload, dtype=np.uint8)), str_off


def _batch_native(table: SymbolTable, strings: list[bytes], encode: bool):
    """C fast path (fsst_native); returns None if unavailable."""
    padded, str_off = _strings_native_input(strings)
    res = _native_kernel(table, padded, str_off, encode)
    if res is None:
        return None
    out, out_off = res
    ob = out.tobytes()
    return [ob[out_off[i] : out_off[i + 1]] for i in range(len(strings))]


def compress_batch_concat(
    table: SymbolTable, strings: list[bytes]
) -> tuple[bytes, np.ndarray]:
    """Encode many strings, returning (concatenated payload, code_lengths)
    — the chunk layout codecs.encode_string stores, without materializing
    per-string bytes objects."""
    if not strings:
        return b"", np.zeros(0, dtype=np.int64)
    padded, str_off = _strings_native_input(strings)
    res = _native_kernel(table, padded, str_off, encode=True)
    if res is not None:
        out, out_off = res
        return out.tobytes(), np.diff(out_off)
    payloads = compress_batch(table, strings)
    return b"".join(payloads), np.fromiter(
        (len(p) for p in payloads), dtype=np.int64, count=len(payloads)
    )


def decompress_batch_concat(
    table: SymbolTable, payload: bytes, code_lengths: np.ndarray
) -> list[bytes]:
    """Decode from the concatenated chunk layout without slicing the
    payload per string first."""
    n = len(code_lengths)
    if n == 0:
        return []
    padded, str_off = _lengths_native_input(payload, code_lengths)
    res = _native_kernel(table, padded, str_off, encode=False)
    if res is not None:
        out, out_off = res
        ob = out.tobytes()
        return [ob[out_off[i] : out_off[i + 1]] for i in range(n)]
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.asarray(code_lengths, dtype=np.int64), out=offs[1:])
    return decompress_batch(
        table, [payload[offs[i] : offs[i + 1]] for i in range(n)]
    )


def compress_batch(table: SymbolTable, strings: list[bytes]) -> list[bytes]:
    """Encode many strings at once; output identical to [compress(t, s)]."""
    if not strings:
        return []
    res = _batch_native(table, strings, encode=True)
    if res is not None:
        return res
    buf, starts, ends, lens = _concat(strings)
    n = len(buf)
    if n == 0:
        return [b""] * len(strings)
    str_end = np.repeat(ends, lens)
    bl, code = _best_match(table, buf, str_end)
    step = np.where(bl > 0, bl, 1).astype(np.int64)
    nout = np.where(bl > 0, 1, 2).astype(np.int64)  # escape emits 2 bytes

    # pass 1 (frontier): per-string output lengths + the token rounds
    cur = starts.copy()
    out_len = np.zeros(len(strings), dtype=np.int64)
    rounds: list[tuple[np.ndarray, np.ndarray]] = []
    active = np.flatnonzero(cur < ends)
    while active.size:
        p = cur[active]
        rounds.append((active, p))
        out_len[active] += nout[p]
        cur[active] = p + step[p]
        still = cur[active] < ends[active]
        active = active[still]

    out_off = np.zeros(len(strings) + 1, dtype=np.int64)
    np.cumsum(out_len, out=out_off[1:])
    out = np.empty(int(out_off[-1]), dtype=np.uint8)
    cursor = out_off[:-1].copy()
    for active, p in rounds:
        c = cursor[active]
        esc = bl[p] == 0
        out[c] = np.where(esc, np.uint8(ESCAPE), code[p])
        ei = np.flatnonzero(esc)
        if ei.size:
            out[c[ei] + 1] = buf[p[ei]]
        cursor[active] = c + nout[p]
    ob = out.tobytes()
    return [ob[out_off[i] : out_off[i + 1]] for i in range(len(strings))]


def decompress_batch(table: SymbolTable, payloads: list[bytes]) -> list[bytes]:
    """Decode many strings at once; output identical to [decompress(t, p)]."""
    if not payloads:
        return []
    res = _batch_native(table, payloads, encode=False)
    if res is not None:
        return res
    buf, starts, ends, lens = _concat(payloads)
    n = len(buf)
    if n == 0:
        return [b""] * len(payloads)
    symbols = table.symbols
    max_l = max((len(s) for s in symbols), default=1)
    symmat = np.zeros((256, max_l), dtype=np.uint8)
    symlen = np.ones(256, dtype=np.int64)  # escape default: 1 out byte
    for i, s in enumerate(symbols):
        symmat[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)
        symlen[i] = len(s)

    is_esc = buf == ESCAPE
    step = np.where(is_esc, 2, 1).astype(np.int64)
    nout = np.where(is_esc, 1, symlen[buf]).astype(np.int64)

    cur = starts.copy()
    out_len = np.zeros(len(payloads), dtype=np.int64)
    rounds: list[tuple[np.ndarray, np.ndarray]] = []
    active = np.flatnonzero(cur < ends)
    while active.size:
        p = cur[active]
        rounds.append((active, p))
        out_len[active] += nout[p]
        cur[active] = p + step[p]
        still = cur[active] < ends[active]
        active = active[still]

    out_off = np.zeros(len(payloads) + 1, dtype=np.int64)
    np.cumsum(out_len, out=out_off[1:])
    out = np.empty(int(out_off[-1]), dtype=np.uint8)
    cursor = out_off[:-1].copy()
    for active, p in rounds:
        c = cursor[active]
        esc = is_esc[p]
        ei = np.flatnonzero(esc)
        if ei.size:
            out[c[ei]] = buf[p[ei] + 1]
        si = np.flatnonzero(~esc)
        if si.size:
            codes = buf[p[si]]
            ln = symlen[codes]
            for j in range(max_l):
                w = ln > j
                if not w.any():
                    break
                out[c[si[w]] + j] = symmat[codes[w], j]
        cursor[active] = c + nout[p]
    ob = out.tobytes()
    return [ob[out_off[i] : out_off[i + 1]] for i in range(len(payloads))]


# ---------------------------------------------------------------------------
# Arrow-bridged column codec: object-array of str → (payload, lengths)
# without ever materializing per-string Python bytes. Arrow does the
# str↔utf8-buffer conversion in C; the C kernel consumes/produces the
# contiguous buffer + offsets directly.
# ---------------------------------------------------------------------------


def compress_column(table: SymbolTable, values, arr=None) -> tuple[bytes, np.ndarray]:
    """Encode a numpy object array of strings; returns (payload,
    code_lengths) identical to compress_batch_concat on the utf-8 bytes.
    ``arr`` short-circuits the str→Arrow conversion when the caller already
    holds the values as a large_utf8 array (codecs.encode_string does)."""
    from btrblocks_spark.format import fsst_native as nat

    try:
        import pyarrow as pa

        if nat.lib is None:
            raise RuntimeError
        if arr is None:
            arr = pa.array(values, type=pa.large_utf8())
        if arr.null_count:
            # contract violation, NOT a fallback condition: the slow path
            # would encode str(None) == "None" into null cells — silent
            # irreversible corruption. The codec layer fills nulls before
            # encode; anything else must fail loudly.
            raise ValueError(
                "compress_column requires a null-free array (the codec "
                "layer fills nulls before encode)"
            )
        if arr.type != pa.large_utf8() or arr.offset != 0:
            # the buffer math below assumes int64 offsets starting at the
            # array's element 0: a plain utf8 array has int32 offsets
            # (misread as int64 = garbage offsets into the C kernel) and a
            # SLICED array's buffers still cover the parent (we would
            # encode the parent's first len(arr) strings — wrong data, no
            # error). Normalize instead of guessing.
            arr = pa.array(arr.to_pylist(), type=pa.large_utf8())
        off_buf, data_buf = arr.buffers()[1], arr.buffers()[2]
        str_off = np.frombuffer(off_buf, dtype=np.int64)[: len(arr) + 1]
        n = int(str_off[-1])
        buf = np.frombuffer(data_buf, dtype=np.uint8)[:n] if data_buf else np.zeros(0, np.uint8)
    except ValueError:
        raise
    except Exception:  # noqa: BLE001
        return compress_batch_concat(table, _utf8_list(values, arr))

    res = _native_kernel(table, _pad8(buf), str_off, encode=True)
    if res is None:
        return compress_batch_concat(table, _utf8_list(values, arr))
    out, out_off = res
    return out.tobytes(), np.diff(out_off)


def _utf8_list(values, arr) -> list[bytes]:
    """Slow-path input materialization: callers may pass values=None when
    they hold the column only as an Arrow array (codecs' Arrow-first
    prep); fall back through the array then."""
    if values is None:
        values = arr.to_pylist()
    return [str(x).encode("utf-8") for x in values]


def decompress_column(
    table: SymbolTable, payload: bytes, code_lengths: np.ndarray
) -> np.ndarray:
    """Decode the concatenated chunk layout back to a numpy object array of
    str, Arrow-bridged (no per-string Python loop when available)."""
    arr = decompress_column_arrow(table, payload, code_lengths)
    if arr is None:
        decoded = decompress_batch_concat(table, payload, code_lengths)
        return np.array([b.decode("utf-8") for b in decoded], dtype=object)
    # to_numpy, NOT to_pandas: pandas' conversion hash-deduplicates every
    # string through a driver-side hash table (~40 MB/s); Arrow's direct
    # object-array materialization runs ~7x faster (~290 MB/s) and the
    # output is identical — str objects in a numpy object array
    return arr.to_numpy(zero_copy_only=False)


def decompress_column_arrow(
    table: SymbolTable, payload: bytes, code_lengths: np.ndarray
):
    """Decode straight to a ``pyarrow.large_utf8`` Array — the columnar
    hand-off a scan actually needs (Arrow buffers feed Spark/pandas without
    ever materializing per-string Python objects; object conversion costs
    ~10× the decode itself). Returns None when the C kernel or pyarrow is
    unavailable; callers fall back to the batch path."""
    from btrblocks_spark.format import fsst_native as nat

    n = len(code_lengths)
    try:
        import pyarrow as pa

        if nat.lib is None:
            raise RuntimeError
    except Exception:  # noqa: BLE001
        return None

    padded, str_off = _lengths_native_input(payload, code_lengths)
    res = _native_kernel(table, padded, str_off, encode=False)
    if res is None:
        return None
    out, out_off = res
    return pa.Array.from_buffers(
        pa.large_utf8(),
        n,
        [None, pa.py_buffer(out_off), pa.py_buffer(out)],
    )
