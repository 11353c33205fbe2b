"""Training-data curation operators: deterministic splits, stratified
sampling, sequence packing and PII redaction.

These are the sampling/packing stages a 100 TB training-data pipeline
runs after dedup/quality filtering (functions/dedup.py, textstats.py):

* ``split_assign`` — a deterministic train/val/test assignment from a
  Weyl-style integer hash of the document id.  No RNG state, no
  shuffle: any executor can recompute any row's split, re-runs are
  reproducible, and downstream filters prune at the scan.
* ``stratified_sample`` — exact n-per-stratum sampling: rank rows
  inside each stratum by the same deterministic hash and keep the
  first n.  One window shuffle keyed by the stratum (bounded
  cardinality); at scale the window never materializes more than the
  stratum's rows per task, and skewed strata fall under AQE's skew
  handling like any other window.
* ``pack_sequences`` — contiguous token-budget packing: documents in
  id order are assigned to bins by exclusive prefix token count
  (bin = floor(prefix_sum / budget)).  This is the streaming
  approximation every sequence-packing loader uses (first-fit packing
  is inherently sequential); a running-sum window in id order, one
  range shuffle.
* ``redact_pii`` — scan-side redaction of emails, IPv4 addresses,
  phone-shaped and long digit runs to typed tags (the CCNet/Dolma-
  style pre-training scrub).  Pure regexp_replace chain, codegen'd.

Every operator has an exactly-equivalent DuckDB SQL form (the sql_*
builders below share the regex/hash constants) so the driver gate
verifies values, not just shapes.
"""
from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window, functions as F

# two-round multiplicative mix on BIGINT arithmetic — identical in
# Spark and DuckDB (values stay in [0, 2^62): no overflow semantics
# involved — Spark would wrap silently where DuckDB errors). One round
# lattices badly mod small ranges (sequential ids hit only ~half the
# residues mod 100); the second multiply breaks the lattice.
HASH_MULT = 2654435761   # Knuth's 2^32 / phi
HASH_MULT2 = 1103515245  # glibc LCG multiplier
HASH_MOD = 2147483647    # 2^31 - 1


def det_hash(id_col: Column, seed: int = 0) -> Column:
    # reduce the id first: (2^31)*HASH_MULT stays inside BIGINT, and
    # 10^12-scale ids WOULD overflow the raw product. pmod keeps
    # NEGATIVE ids (signed-hash id schemes) in [0, MOD) — plain % is
    # sign-preserving in both engines, which would push every negative
    # id below any split threshold
    h1 = (F.pmod(id_col, F.lit(HASH_MOD)) + F.lit(seed)) \
        * F.lit(HASH_MULT)
    h1 = F.pmod(h1, F.lit(HASH_MOD))
    return F.pmod((h1 + F.lit(12345)) * F.lit(HASH_MULT2),
                  F.lit(HASH_MOD))


def _sql_pmod(expr: str, m: int) -> str:
    return f"((({expr}) % {m} + {m}) % {m})"


def sql_det_hash(id_expr: str, seed: int = 0) -> str:
    h1 = _sql_pmod(
        f"({_sql_pmod(id_expr, HASH_MOD)} + {seed}) * {HASH_MULT}",
        HASH_MOD)
    return _sql_pmod(f"({h1} + 12345) * {HASH_MULT2}", HASH_MOD)


def split_assign(docs: DataFrame, id_col: str = "doc_id",
                 train: int = 98, val: int = 1,
                 seed: int = 0) -> DataFrame:
    """Adds a ``split`` column: 'train'/'val'/'test' by hash percentile
    (train+val+test = 100)."""
    pct = det_hash(F.col(id_col), seed) % 100
    split = (
        F.when(pct < train, F.lit("train"))
        .when(pct < train + val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.withColumn("split", split)


def sql_split_case(id_expr: str, train: int = 98, val: int = 1,
                   seed: int = 0) -> str:
    h = f"(({sql_det_hash(id_expr, seed)}) % 100)"
    return (f"CASE WHEN {h} < {train} THEN 'train' "
            f"WHEN {h} < {train + val} THEN 'val' ELSE 'test' END")


def stratified_sample(docs: DataFrame, stratum_col: str = "lang",
                      n_per: int = 5, id_col: str = "doc_id",
                      seed: int = 0) -> DataFrame:
    """Exactly n rows per stratum, chosen by deterministic hash rank
    (ties broken by id so the result is total-ordered)."""
    w = Window.partitionBy(stratum_col).orderBy(
        det_hash(F.col(id_col), seed).asc(), F.col(id_col).asc())
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n_per)
        .drop("rk")
    )


# An unsharded pack_sequences whose input Catalyst estimates above this
# many bytes warns: its running sum is one global window, which Spark
# evaluates in a single task.
PACK_GLOBAL_WINDOW_WARN_BYTES = 1 << 30


def _size_estimate(df: DataFrame) -> int | None:
    """The optimized plan's sizeInBytes (no Spark job runs); None when
    Catalyst has no estimate (it reports spark.sql.defaultSizeInBytes)."""
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    return None if est >= unknown else est


def pack_sequences(docs: DataFrame, tokens_col: str = "n_tokens",
                   id_col: str = "doc_id", budget: int = 4096,
                   shard_col: str = None) -> DataFrame:
    """Contiguous packing: bin = floor(exclusive-prefix-sum / budget)
    over id order.  Documents longer than the budget get their own
    bin(s) — the floor assignment handles that naturally.

    At scale pass ``shard_col``: packing runs independently inside
    each shard (the loader consumes shards independently anyway), so
    the running sum is a partitioned window — parallel, no global
    sort.  Without a shard the window is a single total order: fine
    for gate-sized data, not for 100 TB."""
    if shard_col is not None:
        w = (Window.partitionBy(shard_col).orderBy(F.col(id_col).asc())
             .rowsBetween(Window.unboundedPreceding, -1))
    else:
        est = _size_estimate(docs)
        if est is not None and est > PACK_GLOBAL_WINDOW_WARN_BYTES:
            warnings.warn(
                f"pack_sequences without shard_col runs one global window "
                f"(Window.orderBy({id_col!r}) with no partitionBy) over an "
                f"input estimated at {est} bytes: every row moves to a single "
                f"task. Pass shard_col to pack each shard independently.",
                stacklevel=2,
            )
        w = (Window.orderBy(F.col(id_col).asc())
             .rowsBetween(Window.unboundedPreceding, -1))
    prefix = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return docs.withColumn(
        "bin", F.floor(prefix / F.lit(budget)).cast("bigint"))


# -- PII redaction ----------------------------------------------------
# order matters: emails before digit runs (an email may contain
# digits), IPv4 before generic digit runs. The digit-run rule matches
# phone-shaped separators too. All patterns are in the RE2/Java common
# subset so the DuckDB oracle applies the identical chain.
PII_RULES = (
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    # phone shapes only: international (+CC then anything phone-like),
    # parenthesized area code, or -/.-separated triples. Space as the
    # ONLY separator is allowed just after a leading '+' — otherwise
    # year lists / decimal sequences ("2020 2021 2022") would be eaten.
    # Unseparated digit runs fall through to the <ID> rule.
    (r"(?:\+[0-9]{1,3}[()\-. ][0-9()\-. ]{4,}[0-9]"
     r"|\([0-9]{1,4}\)[-. ]?[0-9][0-9\-. ]{3,}[0-9]"
     r"|\b[0-9]{2,4}[-.][0-9]{2,4}[-.][0-9]{2,4}\b)", "<PHONE>"),
    (r"\b[0-9]{9,}\b", "<ID>"),
)


def redact_pii(text: Column) -> Column:
    out = text
    for pat, tag in PII_RULES:
        out = F.regexp_replace(out, pat, tag)
    return out


def sql_redact_pii(text_expr: str) -> str:
    out = text_expr
    for pat, tag in PII_RULES:
        esc = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{esc}', '{tag}', 'g')"
    return out
