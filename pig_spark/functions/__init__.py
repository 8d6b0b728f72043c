"""pig_spark builtin function library.

Mirrors Pig's builtin package (src/org/apache/pig/builtin/, 188 files —
SURVEY §2.4) on pyspark.sql.functions, plus training-data-pipeline
extensions (text analysis, dedup, similarity). Aggregates (COUNT, SUM,
AVG, MIN, MAX, COUNT_STAR, COR, COV — Algebraic in Pig, COUNT.java:54)
are the row lowering of ``pig_spark.aggregates``, Spark aggregate
expressions that already do map-side partial aggregation (Pig's
combiner).
"""

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import aggregates as _agg
from . import bags, datetime, dedup, math, ml, piggybank, similarity, string, text
from .bags import *  # noqa: F401,F403
from .testudf import *  # noqa: F401,F403 — reference e2e test-UDF jar, engine-side
from .datetime import *  # noqa: F401,F403
from .math import *  # noqa: F401,F403
from .piggybank import *  # noqa: F401,F403
from .string import *  # noqa: F401,F403

# --- aggregates (builtin/COUNT.java, SUM.java, AVG.java, MIN/MAX, COR,
# COV): the row lowering of the one aggregate table (aggregates.BUILTINS)
COUNT = _agg.BUILTINS["count"].rows  # counts non-null values (COUNT.java:40-49)


def COUNT_STAR(col: Column | str = "*") -> Column:
    """COUNT_STAR.java — counts all tuples incl. nulls."""
    return _agg.over_rows("count_star")


SUM = _agg.BUILTINS["sum"].rows
AVG = _agg.BUILTINS["avg"].rows
MIN = _agg.BUILTINS["min"].rows
MAX = _agg.BUILTINS["max"].rows
COR = _agg.BUILTINS["cor"].rows  # Pearson's r of one pair
COV = _agg.BUILTINS["cov"].rows  # population covariance of one pair (COV.java)


def UniqueID() -> Column:
    """UniqueID.java (task id + counter) ≅ monotonically_increasing_id."""
    return F.monotonically_increasing_id()


# --- training-pipeline scalar functions, Latin-callable (UPPERCASE is
# the Pig convention the front-end resolves via getattr; these let a
# Pig Latin script run the text-pipeline stages inline:
#   FOREACH d GENERATE doc_id, LANG_ID(text), QUALITY_SCORE(text);
LANG_ID = text.lang_id
QUALITY_SCORE = text.quality_score
TOKEN_COUNT = text.token_count
BPE_TOKEN_COUNT = text.bpe_token_count
FINGERPRINT = text.fingerprint
ROLLING_FINGERPRINT = text.rolling_hash_fingerprint
REDACT = text.redact
CANONICAL_URL = text.canonical_url  # r8: crawl-dedup URL normalization
QUALITY_CLASSIFY = text.hashed_linear_score  # r8: fastText-style score
TERM_COUNTS = text.term_counts  # r8: per-row term-frequency bag


def CHUNKS(col: Column, chunk: int = 16, stride: int = 12) -> Column:
    """Bag form of operators.chunking.chunk_documents for the Pig
    FLATTEN idiom: `FOREACH d GENERATE doc_id, FLATTEN(CHUNKS(text))
    AS (chunk_id, n_tokens, chunk_text);` — one struct per token
    window (chunk_structs is the single source of the window rule).
    FLATTEN explodes it into the per-chunk rows a chunking pipeline
    stores."""
    from ..operators.chunking import chunk_structs

    return chunk_structs(F.split(col, " "), chunk, stride)


def NGRAMS(col: Column, n: int = 2) -> Column:
    """Bag of non-distinct word n-grams of lower(text) — the Latin
    handle on text._grams (`FLATTEN(NGRAMS(text, 2)) AS gram` feeds a
    GROUP for corpus profiles like q97)."""
    if isinstance(n, Column):
        raise TypeError("NGRAMS needs a literal n")
    return text._grams(text.tokenize_ws(F.lower(col)), int(n))


def SHINGLES(col: Column, n: int = 3) -> Column:
    """Bag of DISTINCT word n-gram shingles (dedup.word_shingles) —
    the dedup building block, Latin-callable."""
    from . import dedup as _dedup

    if isinstance(n, Column):
        raise TypeError("SHINGLES needs a literal n")
    return _dedup.word_shingles(col, int(n))

# Pig-named aliases for DataFrame-level equivalents (BuildBloom/Bloom
# is a two-UDF protocol in Pig; Spark-first it is one relational op —
# build side scanned once, bitset broadcast, probe side filtered):
PluckTuple = bags.pluck_tuple
from .bloom import bloom_filter as Bloom  # noqa: E402,F401  (probe+build → filtered probe)
from .bloom import bloom_tag as BuildBloom  # noqa: E402,F401  (adds membership column)
