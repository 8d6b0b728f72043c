"""Seeded input generator for the benchmark.

One ``seed`` drives every dataset; the same seed gives byte-identical
inputs. Three datasets, one per workload:

- ``pigmix``: page_views-shaped ``events`` (zipf ``user_id``, JSON
  ``props``) plus ``customer`` (the PigMix ``users`` role: a 1-in-10
  skim of the distinct event users) and ``supplier`` (``power_users``:
  a 1-in-100 skim), as parquet.
- ``corpus``: ``documents`` with a fixed language mix and fixed exact-
  and near-duplicate fractions, as parquet.
- ``latin_etl``: ``studenttab`` / ``votertab`` tab-delimited text
  (FIXTURES.md §1 shapes) with high-cardinality join names, plus the
  Python scripting UDF file the scripts REGISTER.

``generate`` returns a manifest with the row count and MB per table.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes fixed per workload; only the seed varies between runs.
SIZES = {
    "pigmix": {"events": 100_000, "users": 20_000},
    "corpus": {"documents": 400},
    "latin_etl": {"studenttab": 50_000, "votertab": 50_000},
}

EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PARTIES = np.array(["democrat", "green", "independent", "libertarian", "republican", "socialist"])

# Corpus shape: language mix, and the share of documents that are an
# exact copy or a lightly edited copy of an earlier document.
LANG_MIX = {"en": 0.6, "es": 0.1, "fr": 0.1, "de": 0.1, "zh": 0.1}
EXACT_DUP_FRAC = 0.05
NEAR_DUP_FRAC = 0.15
NEAR_DUP_EDIT_FRAC = 0.04
LOW_QUALITY_EN_FRAC = 0.3

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "que"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "mit"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}
ZH_CHARS = "数据处理查询计算系统网络模型语言文本分析结果方法问题时间世界"

UDF_SOURCE = '''\
@outputSchema("band:chararray")
def band(gpa):
    if gpa is None:
        return None
    if gpa >= 3.0:
        return "high"
    if gpa >= 2.0:
        return "mid"
    return "low"
'''


def _zipf_choice(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    """Bounded zipf over ``n`` ranks, ranks shuffled onto ids."""
    p = 1.0 / np.arange(1, n + 1) ** s
    ranks = rng.choice(n, size=size, p=p / p.sum())
    return rng.permutation(n)[ranks]


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _pigmix(rng: np.random.Generator, out: str) -> None:
    n, n_users = SIZES["pigmix"]["events"], SIZES["pigmix"]["users"]
    user_id = _zipf_choice(rng, n_users, n, 1.1).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    events = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": user_id,
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    _write_parquet(events, os.path.join(out, "events.parquet"))

    seen = np.unique(user_id)
    users = np.sort(rng.choice(seen, size=max(1, len(seen) // 10), replace=False))
    power = np.sort(rng.choice(seen, size=max(1, len(seen) // 100), replace=False))
    _write_parquet(pd.DataFrame({
        "c_custkey": users.astype(np.int64),
        "c_name": [f"Customer#{k:09d}" for k in users],
        "c_nationkey": rng.integers(0, 25, len(users)).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(users)), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), len(users))],
    }), os.path.join(out, "customer.parquet"))
    _write_parquet(pd.DataFrame({
        "s_suppkey": power.astype(np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in power],
        "s_nationkey": rng.integers(0, 25, len(power)).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(power)), 2),
    }), os.path.join(out, "supplier.parquet"))


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, rng.integers(3, 10))))
    return np.array(sorted(words))


def _doc_tokens(rng: np.random.Generator, lang: str, vocab: np.ndarray, p: np.ndarray) -> list[str]:
    n = int(rng.integers(25, 75))
    if lang == "zh":
        chars = list(ZH_CHARS)
        toks = ["".join(rng.choice(chars, rng.integers(1, 4))) for _ in range(n)]
    else:
        toks = list(vocab[rng.choice(len(vocab), size=n, p=p)])
    rate = 0.25
    if lang == "en" and rng.random() < LOW_QUALITY_EN_FRAC:
        rate = 0.02
    sw = STOPWORDS[lang]
    for i in np.nonzero(rng.random(n) < rate)[0]:
        toks[i] = sw[int(rng.integers(0, len(sw)))]
    return toks


def _corpus(rng: np.random.Generator, out: str) -> None:
    n = SIZES["corpus"]["documents"]
    vocab = _vocab(rng, 3_000)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.0
    p /= p.sum()
    langs = list(LANG_MIX)
    lang_p = np.array([LANG_MIX[k] for k in langs])
    docs: list[list[str]] = []
    doc_lang: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < EXACT_DUP_FRAC:
            j = int(rng.integers(0, i))
            toks, lang = list(docs[j]), doc_lang[j]
        elif i > 0 and kind[i] < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            j = int(rng.integers(0, i))
            toks, lang = list(docs[j]), doc_lang[j]
            pool = STOPWORDS[lang] if lang == "zh" else vocab
            for k in np.nonzero(rng.random(len(toks)) < NEAR_DUP_EDIT_FRAC)[0]:
                toks[k] = str(pool[int(rng.integers(0, len(pool)))])
        else:
            lang = langs[int(rng.choice(len(langs), p=lang_p))]
            toks = _doc_tokens(rng, lang, vocab, p)
        docs.append(toks)
        doc_lang.append(lang)
    text = [" ".join(t) for t in docs]
    _write_parquet(pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": doc_lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }), os.path.join(out, "documents.parquet"))


def _latin(rng: np.random.Generator, out: str) -> None:
    ns, nv = SIZES["latin_etl"]["studenttab"], SIZES["latin_etl"]["votertab"]
    # ~2 rows per name on each side: a high-cardinality join key
    n_names = max(1, (ns + nv) // 4)
    names = np.array([f"name{k:07d} x{k % 97}" for k in range(n_names)])

    def tab(cols: list[np.ndarray], path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for row in zip(*cols):
                f.write("\t".join(row) + "\n")

    tab([
        names[rng.integers(0, n_names, ns)],
        rng.integers(18, 78, ns).astype(str),
        np.char.mod("%.2f", rng.uniform(0.0, 4.0, ns)),
    ], os.path.join(out, "studenttab"))
    tab([
        names[rng.integers(0, n_names, nv)],
        rng.integers(18, 78, nv).astype(str),
        PARTIES[rng.integers(0, len(PARTIES), nv)],
        np.char.mod("%.2f", rng.uniform(0.0, 1000.0, nv)),
    ], os.path.join(out, "votertab"))
    with open(os.path.join(out, "bench_udfs.py"), "w", encoding="utf-8") as f:
        f.write(UDF_SOURCE)


_GENERATORS = {"pigmix": _pigmix, "corpus": _corpus, "latin_etl": _latin}


def _dataset_stats(out: str) -> dict[str, dict[str, float]]:
    stats = {}
    for name in sorted(os.listdir(out)):
        path = os.path.join(out, name)
        if name.endswith(".parquet"):
            rows = pq.ParquetFile(path).metadata.num_rows
        elif name.endswith(".py"):
            continue
        else:
            with open(path, "rb") as f:
                rows = sum(1 for _ in f)
        stats[name.removesuffix(".parquet")] = {
            "rows": rows,
            "mb": round(os.path.getsize(path) / 2**20, 3),
        }
    return stats


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` into ``out``; return the
    manifest (also written as ``manifest.json``)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, list(_GENERATORS).index(workload)])
    _GENERATORS[workload](rng, out)
    manifest = {"workload": workload, "seed": seed, "tables": _dataset_stats(out)}
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1)
    return manifest
