"""Solr SignatureUpdateProcessor dedup signatures (solr/core/.../update/
processor/SignatureUpdateProcessorFactory.java with MD5Signature,
Lookup3Signature and TextProfileSignature — the Nutch page-profile
signature).

Byte-exact ports, including the parts that only a differential oracle
keeps honest:

* ``text_profile`` — the Nutch profile: alnum-run tokens lowercased,
  tokens of length > minTokenLen counted, counts quantized to
  QUANT = round(maxFreq * quantRate) (floor-round-half-up, min 2 when
  maxFreq > 1), sub-QUANT tokens dropped, then a STABLE sort by
  decreasing count.  The tie order is Java HashMap.values() iteration
  order, which ``_java_hashmap_order`` reproduces exactly for the
  non-treeified case: group by final-table bucket
  ``spread(String.hashCode) & (cap-1)`` (Java 8 resize preserves
  within-bucket insertion order), buckets ascending, insertion order
  within a bucket.  Treeified bins (>= 8 same-bucket collisions at
  table size >= 64) would iterate in tree order — astronomically rare
  for real token sets and left unported (documented).
* ``lookup3ycs64`` — Solr's Hash.lookup3ycs64, with the exact
  surrogate pairing (a high surrogate consumes the NEXT char as the
  pair whether or not it is a low surrogate) and the
  skip-final-mix-when-length-divisible-by-3 behavior.
* ``md5_signature`` — MD5 over UTF-8 (SQL-expressible; the
  md5_signature_dedup gate cross-checks DuckDB's md5()).

Verified against the compiled reference classes by
tools/fuzz_signature.py.  Spark-side these run as Arrow-batched
mapInPandas (per-doc hash state is inherently imperative); the
PRODUCTION exact-dedup path stays on built-in hashes (dedup_exact) —
these exist for Solr dedup PARITY, so signatures computed here match a
reference deployment's stored signature fields.
"""
from __future__ import annotations

import hashlib
import math
import unicodedata

from ..analysis.hunspell import _java_char_lower

_M32 = 0xFFFFFFFF


def java_string_hashcode(s: str) -> int:
    """String.hashCode over UTF-16 code units, as a signed 32-bit."""
    h = 0
    b = s.encode("utf-16-be", "surrogatepass")
    for k in range(0, len(b), 2):
        u = (b[k] << 8) | b[k + 1]
        h = (31 * h + u) & _M32
    return h - (1 << 32) if h >= (1 << 31) else h


def _java_hashmap_order(keys_in_insertion_order) -> list:
    """Java 8 HashMap.values() iteration order for distinct string
    keys inserted once each (non-treeified bins)."""
    n = len(keys_in_insertion_order)
    cap = 16
    while n > int(0.75 * cap):
        cap <<= 1
    out = []
    for key in keys_in_insertion_order:
        h = java_string_hashcode(key) & _M32
        h ^= h >> 16
        out.append((h & (cap - 1), key))
    # stable by bucket: within-bucket order = insertion order
    out.sort(key=lambda t: t[0])
    return [k for _b, k in out]


def text_profile(content: str, quant_rate: float = 0.01,
                 min_token_len: int = 2) -> str:
    """The quantized token profile string (TextProfileSignature.add)."""
    counts: dict[str, int] = {}
    max_freq = 0
    cur = []
    # iterate UTF-16 units like the Java char loop; isLetterOrDigit on
    # a lone surrogate is false, so surrogates always flush tokens —
    # matching charAt semantics for astral chars. Java isLetterOrDigit
    # = letter categories + Nd ONLY (Python isalnum also takes Nl/No).
    units = content.encode("utf-16-be", "surrogatepass")
    for k in range(0, len(units), 2):
        c = chr((units[k] << 8) | units[k + 1])
        if (not (0xD800 <= ord(c) <= 0xDFFF)
                and unicodedata.category(c) in
                ("Lu", "Ll", "Lt", "Lm", "Lo", "Nd")):
            cur.append(_java_char_lower(c))
        else:
            if cur:
                if len(cur) > min_token_len:
                    s = "".join(cur)
                    v = counts.get(s, 0) + 1
                    counts[s] = v
                    if v > max_freq:
                        max_freq = v
                cur = []
    if len(cur) > min_token_len:
        s = "".join(cur)
        v = counts.get(s, 0) + 1
        counts[s] = v
        if v > max_freq:
            max_freq = v

    # Math.round(float) = floor(x + 0.5)
    quant = math.floor(max_freq * quant_rate + 0.5)
    if quant < 2:
        quant = 2 if max_freq > 1 else 1
    profile = []
    for key in _java_hashmap_order(list(counts)):
        cnt = (counts[key] // quant) * quant
        if cnt < quant:
            continue
        profile.append((key, cnt))
    # Collections.sort is stable; comparator = decreasing cnt
    profile.sort(key=lambda t: -t[1])
    return "\n".join(f"{k} {c}" for k, c in profile)


def text_profile_signature(content: str, quant_rate: float = 0.01,
                           min_token_len: int = 2) -> str:
    """Hex MD5 of the profile (MD5Signature.getSignature)."""
    prof = text_profile(content, quant_rate, min_token_len)
    return hashlib.md5(prof.encode("utf-8")).hexdigest()


def md5_signature(content: str) -> str:
    return hashlib.md5(content.encode("utf-8")).hexdigest()


def _rot_mix(a, b, c):
    a = (a - c) & _M32; a ^= ((c << 4) | (c >> 28)) & _M32; c = (c + b) & _M32
    b = (b - a) & _M32; b ^= ((a << 6) | (a >> 26)) & _M32; a = (a + c) & _M32
    c = (c - b) & _M32; c ^= ((b << 8) | (b >> 24)) & _M32; b = (b + a) & _M32
    a = (a - c) & _M32; a ^= ((c << 16) | (c >> 16)) & _M32; c = (c + b) & _M32
    b = (b - a) & _M32; b ^= ((a << 19) | (a >> 13)) & _M32; a = (a + c) & _M32
    c = (c - b) & _M32; c ^= ((b << 4) | (b >> 28)) & _M32; b = (b + a) & _M32
    return a, b, c


def _rot_final(a, b, c):
    c ^= b; c = (c - (((b << 14) | (b >> 18)) & _M32)) & _M32
    a ^= c; a = (a - (((c << 11) | (c >> 21)) & _M32)) & _M32
    b ^= a; b = (b - (((a << 25) | (a >> 7)) & _M32)) & _M32
    c ^= b; c = (c - (((b << 16) | (b >> 16)) & _M32)) & _M32
    a ^= c; a = (a - (((c << 4) | (c >> 28)) & _M32)) & _M32
    b ^= a; b = (b - (((a << 14) | (a >> 18)) & _M32)) & _M32
    c ^= b; c = (c - (((b << 24) | (b >> 8)) & _M32)) & _M32
    return a, b, c


def lookup3ycs64(s: str, initval: int = 0) -> int:
    """Hash.lookup3ycs64 (solr/solrj .../common/util/Hash.java) over
    the string's UTF-16 units, returning a SIGNED 64-bit value.  A
    high surrogate consumes the following unit as its pair whether or
    not it is a low surrogate, and the final mix is skipped when the
    last mix landed exactly at the end — both exactly as the Java."""
    units = []
    b16 = s.encode("utf-16-be", "surrogatepass")
    for k in range(0, len(b16), 2):
        units.append((b16[k] << 8) | b16[k + 1])
    a = b = c = (0xDEADBEEF + (initval & _M32)) & _M32
    c = (c + ((initval >> 32) & _M32)) & _M32
    i, end = 0, len(units)
    mixed = True

    def next_cp(i):
        ch = units[i]
        i += 1
        if 0xD800 <= ch <= 0xDBFF and i < end:
            lo = units[i]
            i += 1
            cp = ((ch << 10) + lo + (0x10000 - (0xD800 << 10) - 0xDC00)) \
                & _M32
            return cp, i
        return ch, i

    while True:
        if i >= end:
            break
        mixed = False
        cp, i = next_cp(i)
        a = (a + cp) & _M32
        if i >= end:
            break
        cp, i = next_cp(i)
        b = (b + cp) & _M32
        if i >= end:
            break
        cp, i = next_cp(i)
        c = (c + cp) & _M32
        if i >= end:
            break
        a, b, c = _rot_mix(a, b, c)
        mixed = True

    if not mixed:
        a, b, c = _rot_final(a, b, c)

    # Java: c + (((long) b) << 32) — BOTH ints sign-extend to long
    c_s = c - (1 << 32) if c >= (1 << 31) else c
    b_s = b - (1 << 32) if b >= (1 << 31) else b
    out = (c_s + (b_s << 32)) & 0xFFFFFFFFFFFFFFFF
    return out - (1 << 64) if out >= (1 << 63) else out


def lookup3_signature(content: str) -> str:
    """Lookup3Signature hex: big-endian bytes of the signed hash."""
    h = lookup3ycs64(content, 0) & 0xFFFFFFFFFFFFFFFF
    return h.to_bytes(8, "big").hex()


# -- Spark wrappers ----------------------------------------------------

SIGNATURE_FNS = {
    "md5": md5_signature,
    "lookup3": lookup3_signature,
    "text_profile": text_profile_signature,
}


def signature_column(docs, method: str = "text_profile",
                     text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, signature): md5 is Spark's own ``md5`` over the UTF-8
    bytes (codegen, no Python); the other methods run Arrow-batched
    mapInPandas."""
    import pandas as pd
    from pyspark.sql import functions as F

    if method == "md5":
        return docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.md5(F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8"))
            .alias("signature"),
        )
    fn = SIGNATURE_FNS[method]

    def run(batches):
        for b in batches:
            yield pd.DataFrame({
                "doc_id": b[id_col],
                "signature": [fn(t if t is not None else "")
                              for t in b[text_col]],
            })

    return docs.select(id_col, text_col).mapInPandas(
        run, "doc_id long, signature string")


def dedup_by_signature(docs, method: str = "text_profile",
                       text_col: str = "text", id_col: str = "doc_id"):
    """SignatureUpdateProcessor overwriteDupes analog: one survivor
    (smallest id) per signature — hash groupBy, dedup_exact's shuffle
    shape."""
    from pyspark.sql import functions as F

    sigs = signature_column(docs, method, text_col, id_col)
    return (
        sigs.groupBy("signature")
        .agg(F.min("doc_id").alias("keep_id"),
             F.count(F.lit(1)).alias("copies"))
    )
