"""Arrow-boundary operator surfaces: applyInPandas (UDAF-ish), mapInPandas
(UDTF-ish, see operators/transforms.py), and Spark 4 Python UDTFs.

These are the escape hatches SURVEY §2.7 maps the reference's Task
surface onto — used ONLY where Catalyst expressions can't express the
semantics (the transforms and GEMM top-k elsewhere in this repo), and
shown here in their canonical forms with correctness tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grouped_exact_quantiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact per-group quantiles via applyInPandas — the UDAF shape:
    whole group in as a pandas DataFrame, one aggregate row out.

    Each group must fit in executor memory (the applyInPandas contract);
    for unbounded groups use approx_percentile (built-in sketch) instead.
    """
    import numpy as np
    import pandas as pd

    qcols = [f"q{int(q * 100)}" for q in quantiles]
    out_schema = (
        ", ".join(f"{k} {dict(df.dtypes)[k]}" for k in keys)
        + ", "
        + ", ".join(f"{c} double" for c in qcols)
        + ", n long"
    )

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        row = {k: [pdf[k].iloc[0]] for k in keys}
        for q, c in zip(quantiles, qcols):
            row[c] = [float(np.quantile(vals, q))]
        row["n"] = [len(vals)]
        return pd.DataFrame(row)

    return df.groupBy(*keys).applyInPandas(agg, out_schema)


def _window_hashes(text: str, k: int, base: int, mod: int):
    """Karp-Rabin hashes of every k-char window of `text` (one window
    if the text is shorter than k): k elementwise numpy passes over the
    utf-32 code points, in exact int64 mod arithmetic — the same
    integers as the scalar fold functions/text.rolling_hash_fingerprint."""
    import numpy as np

    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    kk = min(k, len(codes))
    n_win = len(codes) - kk + 1
    acc = np.zeros(n_win, dtype=np.int64)
    for j in range(kk):
        acc = (acc * base + codes[j : j + n_win]) % mod
    return acc


def rolling_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    base: int = 31,
    mod: int = 1_000_003,
) -> DataFrame:
    """Karp-Rabin rolling-hash fingerprint, vectorized: fingerprint =
    the minimum of the doc's k-char window hashes (_window_hashes).

    Same integers as functions/text.rolling_hash_fingerprint (the pure
    Catalyst version), ~20x faster per row: the HOF fold interprets
    O(n*k) lambda steps, this runs O(k) numpy vector ops.
    """
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, fp long"

    def gen(batches):
        for pdf in batches:
            ids, fps = [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                if not text:
                    continue
                ids.append(rid)
                fps.append(int(_window_hashes(text, k, base, mod).min()))
            yield pd.DataFrame({id_col: ids, "fp": fps})

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)


def make_shingle_udtf():
    """Python UDTF (Spark 4): one input string -> one row per word
    shingle. The lateral-join form of the reference's one-to-many
    transforms; register with spark.udtf.register or use inline.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="shingle: string, pos: int")
    class ShingleUDTF:
        def eval(self, text: str, k: int):
            toks = (text or "").split()
            if not toks:
                return
            if len(toks) < k:
                yield (" ".join(toks), 0)
                return
            for i in range(len(toks) - k + 1):
                yield (" ".join(toks[i : i + k]), i)

    return ShingleUDTF


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    w: int = 8,
    base: int = 31,
    mod: int = 1_000_003,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003) — the LOCAL fingerprinting rule behind MOSS-style
    plagiarism/near-dup detection: over the doc's k-char Karp-Rabin
    window hashes, slide a window of w consecutive hashes and select
    each window's minimum (RIGHTMOST minimum on ties — the paper's
    rule), deduplicated by position. Guarantee: any substring match of
    length >= w + k - 1 between two documents yields at least one
    shared (fp) selection in both, while expected density is 2/(w+1) —
    unlike the whole-doc minimum (rolling_fingerprints), matches
    anywhere in a long document are caught.

    Same window hashes as rolling_fingerprints (_window_hashes, then
    O(w) vector passes per doc); emits one row per selected
    fingerprint: (id, pos, fp) with pos the 0-based window start. Texts shorter than k hash as one window; hash streams
    shorter than w select their global minimum once.
    """
    import numpy as np
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, pos int, fp long"

    def gen(batches):
        for pdf in batches:
            ids, poss, fps = [], [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                if not text:
                    continue
                acc = _window_hashes(text, k, base, mod)
                ww = min(w, len(acc))
                sw = np.lib.stride_tricks.sliding_window_view(acc, ww)
                # rightmost argmin: argmin over the reversed window
                arg = ww - 1 - sw[:, ::-1].argmin(axis=1)
                pos = np.unique(np.arange(len(sw)) + arg)
                for p in pos:
                    ids.append(rid)
                    poss.append(int(p))
                    fps.append(int(acc[p]))
            yield pd.DataFrame(
                {id_col: ids, "pos": pd.array(poss, dtype="int32"),
                 "fp": fps}
            )

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)
