"""Seeded inputs the benchmark generates for itself.

``curate_corpus`` builds the ``curate_dedup`` documents: an open Zipf
vocabulary of alphabetic pseudo-words far above the 64-token bitmask
verify path, English stopwords mixed in so the Gopher stopword rule can
pass, and planted classes of documents so that every curation stage
drops a known, non-empty share:

- ``short``      fewer words than Gopher's ``min_words`` (dropped by gopher);
- ``unpunct``    lines without terminal punctuation (dropped by c4);
- ``repetitive`` one line repeated (dropped by repetition at
                 ``max_dup_frac``);
- ``exact``      byte copies of normal originals (dropped by exact_dedup);
- ``near``       normal originals with a few words substituted
                 (dropped by minhash_dedup);
- ``normal``     everything else; some carry an e-mail or phone number
                 so the PII counters see hits.

Copies always get larger ids than their originals, so the min-id
survivor rule of both dedup operators keeps the original.

``query_tables`` writes the small tables the query mix reads, in the
schemas of the repository's test fixtures (TESTDATA.md): ``documents`` with a 31-token
vocabulary (the <=64-vocabulary side of the near-dup verify path),
``embeddings``, and the ``customer``/``orders``/``lineitem`` star.
"""

from __future__ import annotations

import os
import string
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

#: Stopwords: Gopher's list plus common function words.
STOPWORDS = (
    "the be to of and that have with a in is it for on as was at by "
    "this from or an are not but".split()
)

CURATE_SHAPE = {
    "vocab_size": 20_000,
    "zipf_s": 1.1,
    "stopword_share": 0.3,
    "sentences": (12, 36),
    "words_per_sentence": (8, 16),
    "class_shares": {
        "short": 0.08,
        "unpunct": 0.06,
        "repetitive": 0.06,
        "exact": 0.05,
        "near": 0.05,
    },
    "near_substitutions": 3,
    "pii_share": 0.2,
}


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list(string.ascii_lowercase))
    seen: set[str] = set(STOPWORDS)
    out: list[str] = []
    while len(out) < n:
        m = 2 * (n - len(out))
        chars = letters[rng.integers(0, 26, size=(m, 9))]
        for row, k in zip(chars, rng.integers(3, 10, size=m)):
            w = "".join(row[:k])
            if w not in seen:
                seen.add(w)
                out.append(w)
    return out[:n]


class _Words:
    def __init__(self, rng: np.random.Generator, shape: dict) -> None:
        self.rng = rng
        self.vocab = np.array(_vocabulary(rng, shape["vocab_size"]))
        ranks = np.arange(1, len(self.vocab) + 1, dtype=float)
        p = ranks ** -shape["zipf_s"]
        self.cdf = np.cumsum(p / p.sum())
        self.stop = np.array(STOPWORDS)
        self.stop_share = shape["stopword_share"]

    def draw(self, n: int) -> list[str]:
        rng = self.rng
        idx = np.searchsorted(self.cdf, rng.random(n)).clip(max=len(self.vocab) - 1)
        content = self.vocab[idx]
        stops = self.stop[rng.integers(0, len(self.stop), size=n)]
        use_stop = rng.random(n) < self.stop_share
        return np.where(use_stop, stops, content).tolist()


def _sentence(words: _Words, lo: int, hi: int, end: str = ".") -> str:
    toks = words.draw(int(words.rng.integers(lo, hi + 1)))
    toks[0] = toks[0].capitalize()
    return " ".join(toks) + end


def curate_corpus(n_docs: int, seed: int) -> tuple[pd.DataFrame, dict]:
    """(documents frame, truth) for ``n_docs`` documents.

    ``truth`` holds the planted classes: ``exact`` and ``near`` map copy
    id -> original id; the other classes list their ids."""
    shape = CURATE_SHAPE
    rng = np.random.default_rng(seed)
    words = _Words(rng, shape)
    s_lo, s_hi = shape["sentences"]
    w_lo, w_hi = shape["words_per_sentence"]
    shares = shape["class_shares"]
    n_copy = {k: int(round(n_docs * shares[k])) for k in ("exact", "near")}
    n_orig = n_docs - n_copy["exact"] - n_copy["near"]
    n_special = {k: int(round(n_docs * shares[k])) for k in ("short", "unpunct", "repetitive")}

    kinds = (
        ["short"] * n_special["short"]
        + ["unpunct"] * n_special["unpunct"]
        + ["repetitive"] * n_special["repetitive"]
    )
    kinds += ["normal"] * (n_orig - len(kinds))
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]

    texts: list[str] = []
    for kind in kinds:
        if kind == "short":
            lines = [_sentence(words, w_lo, w_hi) for _ in range(2)]
        elif kind == "unpunct":
            lines = [
                _sentence(words, w_lo, w_hi, end="")
                for _ in range(int(rng.integers(s_lo, s_hi + 1)))
            ]
        elif kind == "repetitive":
            line = _sentence(words, w_lo, w_hi)
            lines = [line] * 6 + [_sentence(words, w_lo, w_hi)]
        else:
            lines = [
                _sentence(words, w_lo, w_hi)
                for _ in range(int(rng.integers(s_lo, s_hi + 1)))
            ]
            if rng.random() < shape["pii_share"]:
                who = "".join(rng.choice(list(string.ascii_lowercase), size=6))
                if rng.random() < 0.5:
                    lines.append(f"Write to {who}@example.org for the data.")
                else:
                    lines.append(
                        f"Call the desk at +1 555 {int(rng.integers(100, 999))} "
                        f"{int(rng.integers(1000, 9999))} for it."
                    )
        texts.append("\n".join(lines))

    normal_ids = [i for i, k in enumerate(kinds) if k == "normal"]
    picked = rng.choice(normal_ids, size=n_copy["exact"] + n_copy["near"], replace=False)
    exact_src = [int(i) for i in picked[: n_copy["exact"]]]
    near_src = [int(i) for i in picked[n_copy["exact"]:]]

    truth: dict = {k: [] for k in ("short", "unpunct", "repetitive")}
    for i, k in enumerate(kinds):
        if k in truth:
            truth[k].append(i)
    truth["exact"] = {}
    truth["near"] = {}
    for src in exact_src:
        truth["exact"][len(texts)] = src
        texts.append(texts[src])
    k_sub = shape["near_substitutions"]
    for src in near_src:
        lines = texts[src].split("\n")
        while "\n".join(lines) == texts[src]:
            for _ in range(k_sub):
                # a middle word: the first is capitalized, the last ends the sentence
                li = int(rng.integers(0, len(lines)))
                toks = lines[li].split(" ")
                toks[int(rng.integers(1, len(toks) - 1))] = words.draw(1)[0]
                lines[li] = " ".join(toks)
        truth["near"][len(texts)] = src
        texts.append("\n".join(lines))

    doc_ids = np.arange(len(texts), dtype=np.int64)
    langs = np.array(["en", "en", "en", "de", "fr"])[rng.integers(0, 5, size=len(texts))]
    df = pd.DataFrame(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(len(texts))],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return df, truth


def corpus_shape_summary(df: pd.DataFrame) -> dict:
    """Vocabulary size and mean length actually generated."""
    toks = df["text"].str.lower().str.split()
    vocab = set()
    for t in toks:
        vocab.update(t)
    return {
        "docs": int(len(df)),
        "distinct_tokens": len(vocab),
        "mean_words": round(float(toks.map(len).mean()), 2),
        "mean_chars": round(float(df["n_chars"].mean()), 2),
    }


_SMALL_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the dup"
).split()


def query_tables(out_dir: str, n_docs: int, n_orders: int, seed: int) -> None:
    """Write documents/embeddings/customer/orders/lineitem parquet."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, df: pd.DataFrame) -> None:
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

    vocab = np.array(_SMALL_VOCAB[:-1])
    texts = []
    for i in range(n_docs):
        n = int(rng.integers(8, 80))
        t = " ".join(vocab[rng.integers(0, len(vocab), size=n)])
        if i % 40 == 39:  # near copies of an earlier doc
            t = texts[i - 7] + " dup"
        texts.append(t)
    put(
        "documents",
        pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": np.array(["en", "en", "de", "fr", "es", "zh"])[
                    rng.integers(0, 6, size=n_docs)
                ],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
    )

    n_vec = max(64, n_docs // 2)
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    put(
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": np.arange(n_vec, dtype=np.int64),
                "embedding": list(emb),
                "label": rng.integers(0, 10, size=n_vec).astype(np.int32),
            }
        ),
    )

    n_cust = max(10, n_orders // 10)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put(
        "customer",
        pd.DataFrame(
            {
                "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
                "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_cust), 2),
                "c_mktsegment": segments[rng.integers(0, 5, size=n_cust)],
            }
        ),
    )
    base = datetime(1992, 1, 1)
    o_dates = [base + timedelta(days=int(d)) for d in rng.integers(0, 2400, size=n_orders)]
    put(
        "orders",
        pd.DataFrame(
            {
                "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
                "o_custkey": rng.integers(1, n_cust + 1, size=n_orders).astype(np.int64),
                "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, size=n_orders)],
                "o_totalprice": np.round(rng.uniform(1000, 400000, size=n_orders), 2),
                "o_orderdate": pd.to_datetime(o_dates).astype("datetime64[us]"),
                "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, size=n_orders)
                ],
            }
        ),
    )
    per = rng.integers(1, 8, size=n_orders)
    n_li = int(per.sum())
    okeys = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), per)
    linenos = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    ship = [o_dates[k - 1] + timedelta(days=int(d)) for k, d in zip(okeys, rng.integers(1, 122, size=n_li))]
    put(
        "lineitem",
        pd.DataFrame(
            {
                "l_orderkey": okeys,
                "l_partkey": rng.integers(1, 20000, size=n_li).astype(np.int64),
                "l_suppkey": rng.integers(1, 1000, size=n_li).astype(np.int64),
                "l_linenumber": linenos,
                "l_quantity": rng.integers(1, 51, size=n_li).astype(float),
                "l_extendedprice": np.round(rng.uniform(900, 105000, size=n_li), 2),
                "l_discount": np.round(rng.integers(0, 11, size=n_li) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, size=n_li) / 100.0, 2),
                "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, size=n_li)],
                "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n_li)],
                "l_shipdate": pd.to_datetime(ship).astype("datetime64[us]"),
            }
        ),
    )
