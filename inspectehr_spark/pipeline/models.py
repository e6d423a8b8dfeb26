"""Arrow-batched model-scoring stages: text extraction, language ID,
perplexity. The pandas-UDF surface of the pipeline (the reference analog is
the analyze_bg model scorer, /root/reference/R/analyse_bg.R:15-34).

Every stage is vectorized over Arrow batches: extraction (fused into
`extract_score_udf` and `map_extract_score`) uses pandas str ops; langid
is a doc×bigram count matrix times an integer weight matrix (numpy, exact
int64); perplexity dictionary-encodes tokens and loops only over the
UNIQUE-token dictionary, never over rows.

A real deployment swaps `langid_udf`/`perplexity_udf` internals for
fastText / KenLM model calls with the same batch shape; the models here
are deterministic stand-ins defined by pipeline/spec.py (the container has
no fastText/KenLM — see SURVEY §7).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from inspectehr_spark.pipeline import spec

# Build model tables once at import; shipped to executors in the UDF closure
# (small: ~300 bigrams × 6 langs of int32).
_VOCAB, _PROFILES = spec.build_profiles()
_W = np.zeros((len(_VOCAB), len(spec.LANGS)), dtype=np.int64)
for j, lang in enumerate(spec.LANGS):
    prof = _PROFILES[lang]
    for i, b in enumerate(_VOCAB):
        _W[i, j] = prof.get(b, 0)


def _extract_series(html: pd.Series) -> pd.Series:
    s = html.str.decode("utf-8")
    res = s.str.extract(r"(?s)<p>(.*?)</p>", expand=False).fillna("")
    for a, b in spec.UNESCAPES:
        res = res.str.replace(a, b, regex=False)
    return res


# vocab bigrams as packed codepoint pairs (a << 21 | b — codepoints < 2^21),
# sorted for searchsorted membership tests.
_VOCAB_CODES = np.sort(
    np.array([(ord(b[0]) << 21) | ord(b[1]) for b in _VOCAB], dtype=np.int64)
)
_CODE_TO_IDX = {
    int(c): i
    for i, c in enumerate(_VOCAB_CODES)
}
# weight matrix re-ordered to match the sorted code order
_W_SORTED = np.zeros_like(_W)
for _i, _b in enumerate(_VOCAB):
    _code = (ord(_b[0]) << 21) | ord(_b[1])
    _W_SORTED[_CODE_TO_IDX[_code], :] = _W[_i, :]


def _langid_series(text: pd.Series) -> pd.Series:
    """Char-bigram integer-weight classifier (spec §langid), single-pass:
    the whole batch is joined with NUL separators and decoded to a uint32
    codepoint array once (NUL pairs match no vocab bigram); overlapping
    bigrams become packed int64 codes; vocab membership via binary search;
    per-(doc, vocab) counts via one bincount; exact int64 matmul; argmax
    with smaller-code tie-break. O(total_chars · log vocab), no per-row
    Python, no per-bigram regex scans."""
    n = len(text)
    if n == 0:
        return pd.Series([], dtype="object")
    padded = (" " + text.fillna("") + " ")
    joined = "\x00".join(padded.tolist())
    cp = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    if len(cp) < 2:
        return pd.Series(["und"] * n, index=text.index)
    pairs = (cp[:-1] << 21) | cp[1:]
    # doc id of each pair: pair i starts at char i; doc boundaries from
    # cumulative padded lengths (+1 for each NUL separator)
    lens = padded.str.len().to_numpy(dtype=np.int64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=starts[1:])
    doc_of_pair = np.searchsorted(starts, np.arange(len(pairs)), side="right") - 1

    pos = np.searchsorted(_VOCAB_CODES, pairs)
    pos_clipped = np.minimum(pos, len(_VOCAB_CODES) - 1)
    hit = _VOCAB_CODES[pos_clipped] == pairs
    docs_h = doc_of_pair[hit]
    vidx_h = pos_clipped[hit]
    counts = np.bincount(
        docs_h * len(_VOCAB_CODES) + vidx_h, minlength=n * len(_VOCAB_CODES)
    ).reshape(n, len(_VOCAB_CODES))
    scores = counts @ _W_SORTED  # exact int64
    total = counts.sum(axis=1)
    best = np.asarray(spec.LANGS)[np.argmax(scores, axis=1)]
    best = np.where(total == 0, "und", best)
    return pd.Series(best, index=text.index)


@pandas_udf(StringType())
def langid_udf(text: pd.Series) -> pd.Series:
    return _langid_series(text)


def _perplexity_series(text: pd.Series) -> pd.Series:
    """Mean integer token cost (spec.token_cost) per doc — the KenLM-query
    batch shape: explode → dictionary-encode → per-unique cost → segment
    mean. Python touches only the unique-token dictionary."""
    n = len(text)
    toks = text.fillna("").str.split(" ")
    # Flatten in C: cython explode + repeat, never a per-token Python loop
    # (this sits inside the fused hot-path UDF — a list-comprehension flatten
    # here touched every token interpreted).
    piece_counts = toks.str.len().to_numpy(dtype=np.int64)
    tok_arr = toks.explode().to_numpy()
    doc_ids_all = np.repeat(np.arange(n), piece_counts)
    nonempty = tok_arr != ""
    doc_ids = doc_ids_all[nonempty]
    n_tok = np.bincount(doc_ids, minlength=n).astype(np.int64)
    if doc_ids.size == 0:
        return pd.Series(np.zeros(n), index=text.index)
    # dictionary-encode (C hash table); Python only on the unique dictionary
    codes, uniq = pd.factorize(tok_arr[nonempty])
    cost_table = np.fromiter((spec.token_cost(u) for u in uniq), dtype=np.int64, count=len(uniq))
    costs = cost_table[codes]
    sums = np.bincount(doc_ids, weights=costs, minlength=n)
    with np.errstate(divide="ignore", invalid="ignore"):
        ppl = np.where(n_tok > 0, sums / np.maximum(n_tok, 1), 0.0)
    return pd.Series(ppl, index=text.index)


@pandas_udf(DoubleType())
def perplexity_udf(text: pd.Series) -> pd.Series:
    return _perplexity_series(text)


_ENRICH_STRUCT = StructType(
    [
        StructField("text_x", StringType()),
        StructField("lang_pred", StringType()),
        StructField("perplexity", DoubleType()),
    ]
)


@pandas_udf(_ENRICH_STRUCT)
def extract_score_udf(html: pd.Series) -> pd.DataFrame:
    """FUSED extraction + langid + perplexity in ONE Arrow evaluation.

    Splitting them into separate pandas UDFs makes every row cross the
    JVM⇄Python socket twice (html→text, then text→scores): on this
    workload over half the 8-core CPU went to kernel time moving those
    bytes (measured 56% sys at 8 pinned cores vs 34% at 2 — the socket
    syscall path, not compute, was the scaling limiter). One fused UDF
    transfers html in and (text, lang, ppl) out once, halving boundary
    bytes and syscalls; the per-column logic is byte-identical to the
    standalone UDFs (shared helpers, property-tested against the serial
    labeler).

    The pipeline hot path now uses `map_extract_score` (mapInArrow —
    skips this UDF's Arrow⇄pandas conversion layers); this struct UDF is
    kept as the column-level surface and as the equivalence anchor the
    mapInArrow path is tested against."""
    txt = _extract_series(html)
    return pd.DataFrame(
        {
            "text_x": txt,
            "lang_pred": _langid_series(txt),
            "perplexity": _perplexity_series(txt),
        }
    )


def map_extract_score(df, html_col: str = "html"):
    """Fused extraction + langid + perplexity as ONE `mapInArrow` pass:
    consumes `html_col` and appends (text_x, lang_pred, perplexity).

    Why mapInArrow over the scalar pandas UDF (r4 diagnostics,
    BENCH_cluster.md): at high core counts the pipeline's scaling was
    capped by the pyspark-worker boundary — 76% of worker CPU in the
    socket/serialization syscall path. The pandas-UDF evaluator wraps
    every batch in Arrow→pandas→Arrow conversions (per-row string boxing
    into object arrays on BOTH directions of the struct column) before a
    single model byte runs. mapInArrow hands the worker the RAW Arrow
    RecordBatch: html is converted to pandas exactly once (the model
    helpers are pandas/numpy), passthrough columns are re-emitted
    zero-copy, and the three result arrays go straight from numpy/pandas
    into Arrow arrays — no struct-column assembly, no block-manager
    round trip, no index alignment.

    Boundary-bytes contract: `html` crosses the socket ONCE (inbound; it
    is consumed, never echoed back), results cross once (outbound) —
    identical to the pandas-UDF shape. Passthrough columns cross twice,
    so callers should drop dead-weight wide columns (e.g. the raw crawl
    `text`) BEFORE this stage; run_pipeline does.

    Byte-identical to `extract_score_udf` by construction (same helper
    functions), asserted by an equivalence test."""
    import pyarrow as pa

    passthrough = [f for f in df.schema.fields if f.name != html_col]
    out_schema = StructType(
        list(passthrough)
        + [
            StructField("text_x", StringType()),
            StructField("lang_pred", StringType()),
            StructField("perplexity", DoubleType()),
        ]
    )

    def score_batches(batches):
        for b in batches:
            names = b.schema.names
            hi = names.index(html_col)
            txt = _extract_series(b.column(hi).to_pandas())
            arrays = [b.column(i) for i in range(b.num_columns) if i != hi]
            arrays.append(pa.Array.from_pandas(txt, type=pa.string()))
            arrays.append(
                pa.Array.from_pandas(_langid_series(txt), type=pa.string())
            )
            arrays.append(
                pa.Array.from_pandas(_perplexity_series(txt), type=pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                arrays,
                names=[n for i, n in enumerate(names) if i != hi]
                + ["text_x", "lang_pred", "perplexity"],
            )

    return df.mapInArrow(score_batches, out_schema)
