"""Seeded input generator for the benchmark.

Everything here is a pure function of the workload seed: the same seed
writes byte-identical inputs. The program under test only ever receives
the files written here (transcript parquet, lexicon JSON, relational and
document tables); it never sees the seed.

Transcripts vary conversation length (2-8 turns), text length, value
rate and term mentions per turn. Term mentions are drawn Zipf-skewed
from a seeded ~5,000-term lexicon, so linking and canonicalization see
thousands of distinct keys with a few hot ones.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN_LEXICON = os.path.join(ROOT, "tests", "golden", "lexicon.json")

# Filler vocabulary. None of these words is a lexicon surface or token,
# a unit, a month prefix, an age/context word or a date/range keyword, so
# filler never creates a mention by itself.
FILLER = (
    "the report covers general topics plain filler words about shipping "
    "logistics summary notes review context detail update status pending "
    "complete draft please check this item again later team agreed result "
    "looks fine next step would follow soon thanks for sharing details here "
    "overall process stable quality control batch handled correctly"
).split()

_SYLL = ["ba", "co", "du", "fe", "gi", "ha", "ju", "ka", "lo", "mu",
         "ne", "pi", "qo", "ru", "sa", "ti"]
_TOOLS = ["search", "calc", "lookup", "fetch"]
_EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z

@dataclass(frozen=True)
class CorpusSpec:
    n_turns: int
    words_lo: int  # filler words per turn, uniform in [words_lo, words_hi]
    words_hi: int
    value_rate: float  # mean share of turns carrying a value sentence
    term_rate: float  # share of turns carrying a term mention


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def make_lexicon(seed: int, n_terms: int = 5000) -> list[dict]:
    """The golden lexicon (organisms, units, context terms) followed by
    n_terms seeded synthetic terms: a two-word label and a one-word
    synonym each, all surfaces distinct."""
    with open(GOLDEN_LEXICON) as f:
        terms = list(json.load(f)["terms"])
    rng = _rng(seed, "lexicon")
    used: set[str] = set()

    def word(n_syll: int) -> str:
        while True:
            w = "".join(_SYLL[i] for i in rng.integers(0, 16, n_syll))
            if w not in used:
                used.add(w)
                return w

    for i in range(n_terms):
        terms.append({
            "term_id": f"SYN_{i:06d}",
            "iri": f"synth://term/{seed}/{i}",
            "label": f"{word(4)} {word(4)}",
            "synonyms": [word(6)],
            "pred": "hasEntity",
        })
    return terms


def write_lexicon(path: str, terms: list[dict]) -> None:
    with open(path, "w") as f:
        json.dump({"terms": terms}, f)


_VALUE_TEMPLATES = (
    "measured {n} kg at intake",
    "patients aged {n} to {m} years",
    "collected on 2019-{mo:02d}-{d:02d} from site b",
    "dose {n}-{m} administered",
    "count = {n} recorded since {y} continuously",
    "subject aged {n} weeks",
    "between {n} and {m} cm",
)


def make_transcripts(seed: int, spec: CorpusSpec, terms: list[dict], tag: str):
    """Return (columns, distinct term ids mentioned) for spec.n_turns turns.

    All random draws are made in bulk up front; the per-turn loop only
    assembles strings."""
    rng = _rng(seed, "transcripts-" + tag)
    n = spec.n_turns
    synth = [t for t in terms if t["term_id"].startswith("SYN_")]
    organisms = [t for t in terms if t["pred"] == "hasOrganism"]

    lengths = rng.integers(2, 9, n // 2 + 1)
    ends = np.cumsum(lengths)
    n_conv = int(np.searchsorted(ends, n)) + 1
    lengths = lengths[:n_conv].copy()
    lengths[-1] -= int(ends[n_conv - 1]) - n
    conv_of = np.repeat(np.arange(n_conv), lengths)
    turn_of = np.arange(n) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    # per-conversation value rate around the mean
    conv_rate = np.clip(spec.value_rate * (0.5 + rng.random(n_conv)), 0.0, 1.0)

    n_words = rng.integers(spec.words_lo, spec.words_hi + 1, n)
    offs = np.concatenate([[0], np.cumsum(n_words)])
    word_ix = rng.integers(0, len(FILLER), int(offs[-1]))
    has_term = rng.random(n) < spec.term_rate
    is_organism = rng.random(n) < 0.1
    # Zipf(1.1) over a seeded permutation of the synthetic terms: the hot
    # keys differ per seed, the skew does not
    p = np.arange(1, len(synth) + 1, dtype=np.float64) ** -1.1
    order = rng.permutation(len(synth))
    synth_pick = order[rng.choice(len(synth), n, p=p / p.sum())]
    org_pick = rng.integers(0, len(organisms), n)
    surface_r = rng.random(n)
    insert_r = rng.random(n)
    has_value = rng.random(n) < conv_rate[conv_of]
    v_kind = rng.integers(0, len(_VALUE_TEMPLATES), n)
    v_n = rng.integers(1, 90, n)
    v_m = v_n + rng.integers(1, 50, n)
    v_mo, v_d, v_y = rng.integers(1, 13, n), rng.integers(1, 29, n), rng.integers(1950, 2020, n)
    is_tool = rng.random(n) < 0.1
    tool_ix = rng.integers(0, len(_TOOLS), n)

    conv_ids = [f"s{seed}{tag}c{c:07d}" for c in range(n_conv)]
    mentioned: set[str] = set()
    text = []
    for i in range(n):
        words = [FILLER[w] for w in word_ix[offs[i]:offs[i + 1]]]
        if has_term[i]:
            term = organisms[org_pick[i]] if is_organism[i] else synth[synth_pick[i]]
            mentioned.add(term["term_id"])
            r = surface_r[i]
            if r < 0.6:
                surf = term["label"]
            elif r < 0.85:
                surf = term["synonyms"][0]
            else:  # all label tokens present, not adjacent: the MEDIUM path
                a, b = term["label"].split(" ", 1)
                surf = f"{b} and {a}"
            words.insert(int(insert_r[i] * (len(words) + 1)), surf)
        if has_value[i]:
            words.append(_VALUE_TEMPLATES[v_kind[i]].format(
                n=v_n[i], m=v_m[i], mo=v_mo[i], d=v_d[i], y=v_y[i]))
        text.append(" ".join(words))
    cols = dict(
        conv_id=[conv_ids[c] for c in conv_of],
        turn_idx=turn_of.astype(np.int32),
        role=np.where(is_tool, "tool", np.where(turn_of % 2 == 0, "user", "assistant")).tolist(),
        text=text,
        tool=[_TOOLS[t] if f else None for f, t in zip(is_tool, tool_ix)],
        ts=_EPOCH_US + np.arange(n, dtype=np.int64) * 37_000_000,
    )
    return cols, mentioned


TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def write_transcripts(path: str, cols: dict, n_files: int = 4) -> int:
    """Write the turns as n_files parquet files; returns bytes written."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols, schema=TRANSCRIPT_SCHEMA)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def corpus_props(cols: dict, mentioned: set[str], n_terms: int, nbytes: int) -> dict:
    """Input properties recorded in the benchmark output."""
    n = len(cols["text"])
    return {
        "turns": n,
        "conversations": len(set(cols["conv_id"])),
        "mean_words": round(sum(t.count(" ") + 1 for t in cols["text"]) / n, 1),
        "mb": round(nbytes / 1e6, 2),
        "lexicon_terms": n_terms,
        "distinct_terms_mentioned": len(mentioned),
    }


# ------------------------------------------------ relational/document tables

def write_tables(seed: int, out_dir: str, scale: float = 0.05) -> dict:
    """TPC-H-shaped tables plus documents and embeddings, with the column
    names and types the registered queries read. Returns row counts."""
    rng = _rng(seed, "tables")
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_line = int(150_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    day_us = 86_400 * 1_000_000
    d1992 = 694_224_000 * 1_000_000  # 1992-01-01
    ts = pa.timestamp("us")

    def put(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }))
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    o_date = d1992 + rng.integers(0, 2405, n_ord) * day_us
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 450_000.0, n_ord), 2),
        "o_orderdate": pa.array(o_date, ts),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }))
    l_ord = rng.integers(0, n_ord, n_line)
    put("lineitem", pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * scale), n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * scale), n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(o_date[l_ord] + rng.integers(1, 122, n_line) * day_us, ts),
    }))

    # documents: random texts over a small vocabulary, with planted exact
    # duplicates (case/whitespace variants) and near-duplicate pairs among
    # the low doc ids that the MinHash/triangle queries read
    vocab = np.array(
        ("spark slow line value filter customer fast stream hash table key group "
         "query the scan order window join part vector small data batch merge "
         "sort agg column row a big").split(), dtype=object)
    n_docs = 5000
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))]) for _ in range(n_docs)]
    near = rng.choice(np.arange(300), 24, replace=False)
    for src, dst in zip(near[:12], near[12:]):
        words = texts[src].split()
        words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts[dst] = " ".join(words)
    for i in rng.choice(np.arange(300, n_docs), 150, replace=False):
        texts[i] = "  " + texts[int(rng.integers(300, n_docs))].upper() + " "
    langs = np.array(["en", "en", "de", "fr", "es", "zh"], dtype=object)
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    n_emb, dim = 2000, 64
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 1.2, (n_emb, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_line,
            "documents": n_docs, "embeddings": n_emb}


TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents", "embeddings")
