"""MinHash signatures + banded LSH for near-duplicate detection.

Same MergeableSketch discipline as the rest of the library: a MinHash
signature is a mergeable sketch of a SET (element-wise min == set union —
the same associative/commutative algebra as HLL's register max), built on
the same MurmurHash64A family with Kirsch–Mitzenmacher double hashing
(h_j = h1 + j*h2), per Broder (1997) and the standard LSH banding scheme
(Leskovec–Rajaraman–Ullman, Mining of Massive Datasets ch.3).

E[fraction of matching signature slots] = Jaccard(A, B).
A (bands b, rows r) banding with b*r = k gives match probability
1 - (1 - s^r)^b for Jaccard s.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from .codec import PayloadReader, pack_header, unpack_header
from .kernels import DEFAULT_SEED, murmur64a_int64

KIND_MINHASH = 6

_H2_XOR = 0x9E3779B97F4A7C15
_EMPTY_SLOT = np.uint64(0xFFFFFFFFFFFFFFFF)


def token_shingles(tokens: np.ndarray, n: int = 3) -> np.ndarray:
    """Rolling Karp-Rabin style n-gram fingerprints of an int32 token array.

    Each window of n tokens -> one uint64 via a polynomial rolling hash
    (vectorized: shifted multiply-accumulate, no Python loop over windows).
    """
    t = np.asarray(tokens, dtype=np.int64).view(np.uint64) & np.uint64(0xFFFFFFFF)
    if len(t) < n:
        # short docs: hash what's there as a single shingle
        acc = np.zeros(1, dtype=np.uint64)
        for i in range(len(t)):
            acc = acc * np.uint64(0x100000001B3) + t[i : i + 1]
        return acc
    acc = np.zeros(len(t) - n + 1, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)  # FNV-ish multiplier
    for i in range(n):
        acc *= prime
        acc += t[i : len(t) - n + 1 + i]
    return acc


def shingles_flat(
    flat_tokens: np.ndarray, lengths: np.ndarray, n: int = 3, mask32: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized ``token_shingles`` over a ragged batch of documents.

    ``flat_tokens`` is the concatenation of every doc's tokens (Arrow list
    flatten — zero copy from the batch), ``lengths`` the per-doc token
    counts. Returns (flat shingle fingerprints uint64, owning doc index
    int64), grouped by doc in doc order, byte-identical to calling
    ``token_shingles`` per doc — but with no Python loop over documents:
    the rolling hash is computed once over the flat array and windows that
    cross doc boundaries are simply never selected. Short docs (< n tokens,
    including empty) emit their single prefix-hash shingle, same as the
    per-doc path.

    ``mask32`` (default, byte-parity with ``token_shingles``) truncates
    each element to its low 32 bits — correct for int32 tokens widened to
    int64, where it strips sign-extension. Pass ``mask32=False`` for
    inputs that are already full 64-bit hashes (the word-span paths):
    masking those would halve per-element entropy, and a 10^5-word
    vocabulary would see order-1 expected word collisions (V²/2^33),
    inflating span-duplicate counts beyond the fpp-only bound (review
    catch).
    """
    lengths = np.asarray(lengths, dtype=np.int64)
    n_docs = len(lengths)
    t = np.asarray(flat_tokens, dtype=np.int64).view(np.uint64)
    if mask32:
        t = t & np.uint64(0xFFFFFFFF)
    total = len(t)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    prime = np.uint64(0x100000001B3)

    # one shingle per short doc (L < n), L-n+1 per long doc
    long_counts = np.maximum(lengths - n + 1, 0)
    short = lengths < n
    long_counts[short] = 0
    out_counts = np.where(short, 1, long_counts)
    out_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(out_counts, out=out_off[1:])
    out = np.zeros(out_off[-1], dtype=np.uint64)
    codes = np.repeat(np.arange(n_docs, dtype=np.int64), out_counts)

    if total >= n:
        # global rolling hash over every window of the flat array
        acc = np.zeros(total - n + 1, dtype=np.uint64)
        for i in range(n):
            acc *= prime
            acc += t[i : total - n + 1 + i]
        # gather valid (non-boundary-crossing) windows per long doc:
        # `within` = each output slot's position inside its doc's run
        c = long_counts
        if c.sum():
            run_starts = np.concatenate([[0], np.cumsum(c)[:-1]])
            within = np.arange(int(c.sum()), dtype=np.int64) - np.repeat(run_starts, c)
            src = np.repeat(offsets[:-1], c) + within
            dst = np.repeat(out_off[:-1], c) + within
            out[dst] = acc[src]

    if short.any():
        # prefix polynomial hash of the whole (short) doc, acc0 = 0
        sidx = np.flatnonzero(short)
        acc_s = np.zeros(len(sidx), dtype=np.uint64)
        soff = offsets[:-1][sidx]
        slen = lengths[sidx]
        for s in range(n - 1):
            has = slen > s
            if not has.any():
                break
            acc_s[has] = acc_s[has] * prime + t[soff[has] + s]
        out[out_off[:-1][sidx]] = acc_s
    return out, codes


def simhash64_batch(
    flat_elems: np.ndarray, doc_codes: np.ndarray, n_docs: int, seed: int = DEFAULT_SEED
) -> np.ndarray:
    """Vectorized ``simhash64`` for a ragged batch: one uint64 per doc.

    Hash every element once, then per bit one weighted bincount over doc
    codes — O(64 * total_elements) with no per-doc Python and no
    (len x 64) per-doc matrices. Bit b is set iff more than half of the
    doc's element hashes have bit b set (identical to the +-1 score sum).
    """
    out = np.zeros(n_docs, dtype=np.uint64)
    if len(flat_elems) == 0:
        return out
    h = murmur64a_int64(np.asarray(flat_elems, dtype=np.uint64).view(np.int64), seed)
    cnt = np.bincount(doc_codes, minlength=n_docs)
    for b in range(64):
        bit = ((h >> np.uint64(b)) & np.uint64(1)).astype(np.float64)
        ones = np.bincount(doc_codes, weights=bit, minlength=n_docs)
        # score = 2*ones - cnt > 0  (exact: counts < 2^53 in float64)
        out |= (2 * ones > cnt).astype(np.uint64) << np.uint64(b)
    return out


@dataclass
class MinHashSketch:
    """k-slot MinHash signature of a set of uint64 element fingerprints."""

    k: int = 128
    seed: int = DEFAULT_SEED
    sig: np.ndarray = field(default=None, repr=False)  # type: ignore[assignment]

    def __post_init__(self) -> None:
        if not (8 <= int(self.k) <= 4096):
            raise ValueError(f"k={self.k} out of range [8, 4096]")
        self.k = int(self.k)
        self.seed = int(self.seed)
        if self.sig is None:
            self.sig = np.full(self.k, _EMPTY_SLOT, dtype=np.uint64)
        else:
            self.sig = np.asarray(self.sig, dtype=np.uint64)
            if self.sig.shape != (self.k,):
                raise ValueError("signature shape mismatch")

    @classmethod
    def empty(cls, k: int = 128, seed: int = DEFAULT_SEED) -> "MinHashSketch":
        return cls(k=k, seed=seed)

    def update_elements(self, elements: np.ndarray) -> None:
        """Min-update the signature with uint64 element fingerprints."""
        if len(elements) == 0:
            return
        sigs = minhash_matrix(np.asarray(elements, dtype=np.uint64)[None, :], self.k, self.seed)
        np.minimum(self.sig, sigs[0], out=self.sig)

    def merge(self, other: "MinHashSketch") -> "MinHashSketch":
        """Set-union merge: element-wise min (associative/commutative)."""
        if (self.k, self.seed) != (other.k, other.seed):
            raise ValueError("cannot merge MinHash sketches with different configs")
        np.minimum(self.sig, other.sig, out=self.sig)
        return self

    @staticmethod
    def jaccard(a: "MinHashSketch", b: "MinHashSketch") -> float:
        if (a.k, a.seed) != (b.k, b.seed):
            raise ValueError("config mismatch")
        return float(np.mean(a.sig == b.sig))

    def to_bytes(self) -> bytes:
        head = pack_header(KIND_MINHASH, 0, self.seed)
        return head + struct.pack("<I", self.k) + self.sig.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "MinHashSketch":
        _, seed, payload = unpack_header(blob, KIND_MINHASH)
        r = PayloadReader(payload)
        (k,) = r.unpack("<I")
        sig = r.array(np.uint64, k).copy()
        r.end()
        return cls(k=k, seed=seed, sig=sig)


def encode_minhash_blobs(sigs: np.ndarray, seed: int = DEFAULT_SEED) -> "pa.Array":
    """Arrow binary array of serialized sketches for a (n_docs, k) signature
    matrix — byte-identical to ``MinHashSketch(...).to_bytes()`` per row, but
    built as one (n, width) uint8 matrix write + one Arrow buffer, with no
    per-doc Python objects.
    """
    import pyarrow as pa

    sigs = np.ascontiguousarray(sigs, dtype=np.uint64)
    n, k = sigs.shape
    prefix = np.frombuffer(
        pack_header(KIND_MINHASH, 0, seed) + struct.pack("<I", k), dtype=np.uint8
    )
    width = len(prefix) + 8 * k
    mat = np.empty((n, width), dtype=np.uint8)
    mat[:, : len(prefix)] = prefix
    mat[:, len(prefix) :] = sigs.view(np.uint8).reshape(n, 8 * k)
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(mat.tobytes())]
    )


def _sigs_from_matrix(raw: np.ndarray) -> tuple[np.ndarray, int, int]:
    """(n, width) uint8 blob matrix -> (sigs (n, k) uint64, k, seed), with
    vectorized header validation (every blob must share the first blob's
    magic/version/kind/seed/k prefix; the sig payload follows)."""
    from .codec import HEADER_LEN

    n, width = raw.shape
    first = MinHashSketch.from_bytes(raw[0].tobytes())
    k, seed = first.k, first.seed
    pre = HEADER_LEN + 4
    if width != pre + 8 * k:
        raise ValueError("blob width inconsistent with header k")
    if not (raw[:, :pre] == raw[0, :pre]).all():
        raise ValueError("mixed MinHash headers in one batch")
    sigs = np.ascontiguousarray(raw[:, pre:]).view(np.uint64).reshape(n, k)
    return sigs, k, seed


def decode_minhash_blobs(blobs) -> tuple[np.ndarray, int, int]:
    """Batch-decode serialized MinHash sketches: (sigs (n, k) uint64, k, seed).

    ``blobs`` is any sequence of bytes-like values (pd.Series, list,
    pa.Array.to_pylist()). Signatures are fixed-width (header + k field +
    k x 8 bytes), so the whole batch decodes with one join + one
    ``np.frombuffer`` reshape — no per-row ``from_bytes`` (VERDICT r02 #1).
    Falls back to the per-blob path only if widths are inconsistent (mixed
    k), which also surfaces per-blob validation errors.
    """
    n = len(blobs)
    if n == 0:
        raise ValueError("empty blob batch")
    first = MinHashSketch.from_bytes(bytes(blobs[0]))
    k, seed = first.k, first.seed
    from .codec import HEADER_LEN

    width = HEADER_LEN + 4 + 8 * k
    buf = b"".join(bytes(b) for b in blobs)
    if len(buf) != n * width:
        sigs = np.empty((n, k), dtype=np.uint64)
        for i, b in enumerate(blobs):
            s = MinHashSketch.from_bytes(bytes(b))
            if (s.k, s.seed) != (k, seed):
                raise ValueError("mixed MinHash configs in one batch")
            sigs[i] = s.sig
        return sigs, k, seed
    return _sigs_from_matrix(np.frombuffer(buf, dtype=np.uint8).reshape(n, width))


def decode_minhash_arrow(col) -> tuple[np.ndarray, int, int]:
    """``decode_minhash_blobs`` straight off an Arrow binary column —
    ZERO-copy when the blobs are fixed-width (they are, per batch): the
    signature matrix is a reshape of the column's value buffer, no per-row
    bytes objects at all. Falls back to the bytes path on ragged widths."""
    import pyarrow as pa

    n = len(col)
    if n == 0:
        raise ValueError("empty blob batch")
    if col.null_count:
        raise ValueError("null signature blob")
    if not pa.types.is_binary(col.type):
        return decode_minhash_blobs(col.to_pylist())
    offs = np.frombuffer(col.buffers()[1], dtype=np.int32)[
        col.offset : col.offset + n + 1
    ]
    widths = offs[1:] - offs[:-1]
    width = int(widths[0])
    if width <= 0 or not (widths == width).all():
        return decode_minhash_blobs(col.to_pylist())
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    raw = data[offs[0] : offs[-1]].reshape(n, width)
    return _sigs_from_matrix(raw)


def jaccard_from_blob_batches(a, b) -> np.ndarray:
    """Estimated Jaccard per pair for two equal-length batches of serialized
    signatures (slot-match fraction), batch-decoded — the single shared
    implementation behind the dedup verify UDF and the SQL function."""
    sa, ka, seed_a = decode_minhash_blobs(a)
    sb, kb, seed_b = decode_minhash_blobs(b)
    if (ka, seed_a) != (kb, seed_b):
        raise ValueError("MinHash config mismatch")
    return (sa == sb).mean(axis=1)


def band_keys_batch(sigs: np.ndarray, bands: int, seed: int = DEFAULT_SEED) -> np.ndarray:
    """``band_keys`` for a (n_docs, k) signature matrix -> (n_docs, bands)
    uint64, byte-identical to the per-row path but vectorized over docs."""
    sigs = np.asarray(sigs, dtype=np.uint64)
    n, k = sigs.shape
    if k % bands:
        raise ValueError(f"k={k} not divisible by bands={bands}")
    r = k // bands
    view = sigs.reshape(n, bands, r)
    acc = np.full((n, bands), np.uint64(0xCBF29CE484222325), dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for c in range(r):
        acc ^= view[:, :, c]
        acc *= prime
    acc ^= np.arange(bands, dtype=np.uint64)[None, :] * np.uint64(0x9E3779B97F4A7C15)
    return acc


def minhash_matrix(element_rows: np.ndarray, k: int, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Signatures for a batch: element_rows is a (docs, elems) uint64 array

    (or 1 row); returns (docs, k) uint64. Vectorized: hash every element
    once with two seeds, then derive the k permutations as h1 + j*h2."""
    rows, _ = element_rows.shape
    h1 = murmur64a_int64(element_rows.reshape(-1).view(np.int64), seed).reshape(rows, -1)
    h2 = murmur64a_int64(element_rows.reshape(-1).view(np.int64), seed ^ _H2_XOR).reshape(
        rows, -1
    ) | np.uint64(1)
    out = np.empty((rows, k), dtype=np.uint64)
    for j in range(k):
        np.min(h1 + np.uint64(j) * h2, axis=1, out=out[:, j])
    return out


def minhash_signature(elements: np.ndarray, k: int, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Signature of one element set, vectorized over (elems x k) without the

    per-j loop when the set is small enough to broadcast."""
    e = np.asarray(elements, dtype=np.uint64)
    if len(e) == 0:
        return np.full(k, _EMPTY_SLOT, dtype=np.uint64)
    h1 = murmur64a_int64(e.view(np.int64), seed)
    h2 = murmur64a_int64(e.view(np.int64), seed ^ _H2_XOR) | np.uint64(1)
    js = np.arange(k, dtype=np.uint64)
    # (elems, k) broadcast: h1[:,None] + j*h2[:,None]
    return (h1[:, None] + js[None, :] * h2[:, None]).min(axis=0)


def minhash_signatures_batch(
    flat_elems: np.ndarray, doc_codes: np.ndarray, n_docs: int, k: int, seed: int = DEFAULT_SEED
) -> np.ndarray:
    """(n_docs, k) signatures for a whole batch of ragged documents.

    flat_elems: concatenated uint64 element fingerprints of every doc;
    doc_codes: the owning doc index per element. Hash every element once
    (two seeds), then per permutation j one composite minimum.at scatter —
    O(k * total_elements) with no per-doc Python loop.
    """
    out = np.full((n_docs, k), _EMPTY_SLOT, dtype=np.uint64)
    if len(flat_elems) == 0:
        return out
    e = np.asarray(flat_elems, dtype=np.uint64)
    h1 = murmur64a_int64(e.view(np.int64), seed)
    h2 = murmur64a_int64(e.view(np.int64), seed ^ _H2_XOR) | np.uint64(1)
    hj = np.empty_like(h1)
    for j in range(k):
        np.multiply(h2, np.uint64(j), out=hj)
        hj += h1
        np.minimum.at(out[:, j], doc_codes, hj)
    return out


def simhash64(elements: np.ndarray, weights: np.ndarray | None = None, seed: int = DEFAULT_SEED) -> int:
    """64-bit SimHash (Charikar 2002) of uint64 element fingerprints."""
    if len(elements) == 0:
        return 0
    h = murmur64a_int64(np.asarray(elements, dtype=np.uint64).view(np.int64), seed)
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.float64
    )
    w = np.ones(len(h)) if weights is None else np.asarray(weights, dtype=np.float64)
    score = (bits * 2.0 - 1.0).T @ w
    return int(((score > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())


def hamming64(a: int, b: int) -> int:
    """Hamming distance of two 64-bit fingerprints; accepts signed int64

    values as stored in Spark LongType columns (masks to 64 bits first)."""
    return ((int(a) ^ int(b)) & 0xFFFFFFFFFFFFFFFF).bit_count()


def band_keys(sig: np.ndarray, bands: int, seed: int = DEFAULT_SEED) -> np.ndarray:
    """One uint64 bucket key per band (hash of the band's signature slots)."""
    k = len(sig)
    if k % bands:
        raise ValueError(f"k={k} not divisible by bands={bands}")
    r = k // bands
    view = sig.reshape(bands, r)
    # mix the band index into the key so buckets from different bands never collide
    acc = np.full(bands, np.uint64(0xCBF29CE484222325), dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for c in range(r):
        acc ^= view[:, c]
        acc *= prime
    acc ^= np.arange(bands, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    return acc
