"""Text-mining extraction operators (SURVEY.md §2.3 X1-X5).

Re-implements, Spark-first, what the reference does in
uk.ac.ebi.fg.biosd.annotator.NumericalTextAnnotator and its date/range
extractors (reconstructed — SURVEY.md §0.3): parsing single numbers,
numeric ranges, dates, units, plus in-text ontology-term mention scanning
(the reference shipped whole property strings to ZOOMA; transcript turns
are long, so the engine scans for mentions in place — BASELINE.json
"batched mention detection ... lexicons as broadcast tries").

Execution model: ONE iterator-form ``mapInPandas`` pass per input split —
the lexicon automaton compiles once per task, each Arrow batch (~10k rows)
is processed as pandas columns, and one output row is emitted per mention.
No per-row Python at the API level, no shuffle (extraction is
partition-local), no second scan of the text column.

Frozen semantics (FIXTURES.md §3, mirrored by tests/golden):

- precedence  date ⊐ range ⊐ number  with span consumption: a span claimed
  by a higher-precedence extractor is masked (replaced by spaces, offsets
  preserved) before lower ones run.
- number grammar  [+-]?\\d+(.\\d+)?([eE][+-]?\\d+)?  with word boundaries
  (not preceded by [\\w./+-], not followed by \\w).
- range grammar   <num> (-|–|to|..) <num>   (≤3 ws around the separator)
  and  between <num> and <num>;  lo/hi normalized so lo ≤ hi.
- date formats, priority order: yyyy-MM-dd, dd/MM/yyyy, dd-MMM-yyyy,
  MMM yyyy; bare yyyy only when 1900-2099 and preceded by in/since/year.
- units: the token immediately after a number/range, resolved through the
  unit lexicon to its canonical singular label.
- object serialization: num:<shortest-repr>, range:[<lo>,<hi>]<unit?>,
  date:<ISO-8601 date>.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterator
from datetime import date

import pandas as pd

from ..sources.lexicon import Lexicon, norm_surface

# ---------------------------------------------------------------- grammar

_NUM = r"[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
_NUM_RE = re.compile(rf"(?<![\w./+-])({_NUM})(?!\w)")
_RANGE_RE = re.compile(
    rf"(?<![\w./+-])({_NUM})[ \t]{{0,3}}(?:-|–|to|\.\.)[ \t]{{0,3}}({_NUM})(?!\w)"
)
_BETWEEN_RE = re.compile(rf"\bbetween\s+({_NUM})\s+and\s+({_NUM})(?!\w)", re.IGNORECASE)

_MONTHS = "jan feb mar apr may jun jul aug sep oct nov dec".split()
_MONTH_NO = {m: i + 1 for i, m in enumerate(_MONTHS)}
_DATE_RES = [
    ("ymd", re.compile(r"(?<![\w./+-])(\d{4})-(\d{2})-(\d{2})(?!\w)")),
    ("dmy_slash", re.compile(r"(?<![\w./+-])(\d{2})/(\d{2})/(\d{4})(?!\w)")),
    ("dmy_mon", re.compile(r"(?<![\w./+-])(\d{1,2})-([A-Za-z]{3,9})-(\d{4})(?!\w)", re.IGNORECASE)),
    ("mon_y", re.compile(r"\b(" + "|".join(_MONTHS) + r")[a-z]*\.?[ \t]+(\d{4})(?!\d)", re.IGNORECASE)),
    ("bare_y", re.compile(r"\b(?:in|since|year)[ \t]+((?:19|20)\d{2})(?!\d)", re.IGNORECASE)),
]

_AGE_CTX_RE = re.compile(r"\b(age|aged|old)\b", re.IGNORECASE)
_UNIT_AFTER_RE = re.compile(r"^[ \t]{0,3}([A-Za-z]+)")
_TOKEN_RE = re.compile(r"\w+")

TIME_UNITS = {"year", "week", "month", "day"}

# P5 predicate routing — the SINGLE source of truth (ADVICE r2: this used
# to live as hand-maintained copies). Consumed by (a) _value_pred, the
# per-turn dedup key in the Python extractor; (b) pred_when_chain, the
# Catalyst when/otherwise form used by operators/link.route_predicates.
# An edit here changes both together; tests/test_linking_guard.py checks
# pred_when_chain against this table cell by cell.
PRED_ROUTING: dict[tuple[str, bool], str] = {
    ("number", True): "hasAge",
    ("number", False): "hasNumber",
    ("range", True): "hasAgeRange",
    ("range", False): "hasRange",
    ("date", True): "hasDate",
    ("date", False): "hasDate",
}


def pred_when_chain(kind_col, is_age_col):
    """PRED_ROUTING as a codegen'd Catalyst when/otherwise chain. The
    age-qualified branch of each kind precedes the unqualified one so a
    NULL is_age (NULL unit) falls through to the non-age predicate —
    matching the Python form's `bool(age_ctx) and unit in TIME_UNITS`."""
    from pyspark.sql import functions as F

    expr = None
    for kind in ("number", "range"):
        for flag in (True, False):
            cond = (kind_col == kind) & is_age_col if flag else (kind_col == kind)
            branch = F.lit(PRED_ROUTING[(kind, flag)])
            expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    return expr.otherwise(F.lit(PRED_ROUTING[("date", False)]))


def fmt_num(v: float) -> str:
    """Shortest round-trip serialization; integral floats print as ints
    (num:40, not num:40.0) — frozen in FIXTURES.md §3."""
    if math.isfinite(v) and v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _mask(text: str, spans: list[tuple[int, int]]) -> str:
    if not spans:
        return text
    chars = list(text)
    for b, e in spans:
        for i in range(b, e):
            chars[i] = " "
    return "".join(chars)


def _parse_date(kind: str, m: re.Match) -> date | None:
    try:
        if kind == "ymd":
            return date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
        if kind == "dmy_slash":
            return date(int(m.group(3)), int(m.group(2)), int(m.group(1)))
        if kind == "dmy_mon":
            mon = _MONTH_NO.get(m.group(2)[:3].lower())
            return date(int(m.group(3)), mon, int(m.group(1))) if mon else None
        if kind == "mon_y":
            return date(int(m.group(2)), _MONTH_NO[m.group(1)[:3].lower()], 1)
        if kind == "bare_y":
            return date(int(m.group(1)), 1, 1)
    except ValueError:
        return None
    return None


def _unit_after(text: str, end: int, unit_map: dict[str, str]) -> str | None:
    m = _UNIT_AFTER_RE.match(text[end:])
    if m:
        return unit_map.get(m.group(1).lower())
    return None


def extract_from_text(text: str | None, lex: Lexicon) -> list[dict]:
    """Extract every mention from one turn's text. Pure function — the unit
    of golden-equivalence with the reference's extractor tests."""
    if not text or not text.strip():
        return []
    out: list[dict] = []
    has_digit = any(c.isdigit() for c in text)
    # age context is only consulted for value mentions; skipped on
    # digit-free turns that can't produce any
    age_ctx = bool(_AGE_CTX_RE.search(text)) if has_digit else False

    # --- X5 term mentions (on the original text), token-indexed scan:
    # O(tokens + matches) regardless of dictionary size (see
    # Lexicon.matcher_index). Semantics match the old regex alternation:
    # word-boundary anchored (tokenization), leftmost-longest,
    # non-overlapping, case-insensitive, whitespace-collapsing (the final
    # surface_map lookup on the normalized raw span enforces exact
    # punctuation like 'h. sapiens').
    matched_tids: set[str] = set()
    idx = lex.matcher_index()
    toks_pos = [(m.group(0).lower(), m.start(), m.end())
                for m in _TOKEN_RE.finditer(text)]
    i = 0
    n_toks = len(toks_pos)
    while i < n_toks:
        cands = idx.get(toks_pos[i][0])
        if cands:
            for seq, _surf_key in cands:  # longest first
                j = i + len(seq)
                if j > n_toks:
                    continue
                if all(toks_pos[i + k][0] == seq[k] for k in range(1, len(seq))):
                    b, e = toks_pos[i][1], toks_pos[j - 1][2]
                    # include trailing '.' of abbreviations ('E.' in 'E. coli'
                    # is split by tokenization; norm check validates)
                    # the normalized raw span (includes any inter-token
                    # punctuation, e.g. the '.' of 'E. coli') must be a
                    # known surface — this is what keeps token matching
                    # exactly as strict as the old regex alternation
                    nrm = norm_surface(text[b:e])
                    hit = lex.surface_map.get(nrm)
                    if hit:
                        tid, kind = hit
                        matched_tids.add(tid)
                        out.append(
                            dict(kind="term", surface=text[b:e], match_norm=nrm,
                                 match_kind=kind, begin=b, end=e, obj=None,
                                 num=None, lo=None, hi=None, unit=None,
                                 age_ctx=age_ctx, _tid=tid)
                        )
                        i = j - 1  # non-overlapping: resume after the match
                        break
        i += 1
    # MEDIUM path: all label tokens present, but no exact surface match.
    # Candidate terms come from the text's own tokens via the inverted
    # label-token map — O(text_tokens + candidates), dictionary-size-free.
    ltm = lex.label_token_map()
    tokset = {t for t, _, _ in toks_pos}
    seen_medium: set[str] = set()
    for t in tokset:
        for tid, label_toks in ltm.get(t, ()):
            if tid in matched_tids or tid in seen_medium:
                continue
            if all(lt in tokset for lt in label_toks):
                seen_medium.add(tid)
                nrm = " ".join(label_toks)
                out.append(
                    dict(kind="term", surface=nrm, match_norm=nrm, match_kind="tokens",
                         begin=-1, end=-1, obj=None, num=None, lo=None, hi=None,
                         unit=None, age_ctx=age_ctx, _tid=tid)
                )

    # value extraction needs at least one digit anywhere; skip the 8 regex
    # passes otherwise (fast path for prose-only turns)
    if not has_digit:
        return _dedupe_turn(out)

    # --- X3 dates (highest value precedence), with progressive masking
    masked = text
    spans: list[tuple[int, int]] = []
    for kind, rx in _DATE_RES:
        for m in rx.finditer(masked):
            d = _parse_date(kind, m)
            if d is None:
                continue
            b, e = (m.span(1) if kind == "bare_y" else m.span())
            spans.append((b, e))
            out.append(
                dict(kind="date", surface=text[b:e], match_norm=None, match_kind=None,
                     begin=b, end=e, obj=f"date:{d.isoformat()}", num=None,
                     lo=None, hi=None, unit=None, age_ctx=age_ctx)
            )
        masked = _mask(masked, spans)

    # --- X2 ranges on date-masked text
    for rx in (_RANGE_RE, _BETWEEN_RE):
        for m in rx.finditer(masked):
            lo, hi = float(m.group(1)), float(m.group(2))
            if not (math.isfinite(lo) and math.isfinite(hi)):
                continue  # overflowing literals (e.g. 9e999) are not values
            if lo > hi:
                lo, hi = hi, lo
            unit = _unit_after(masked, m.end(), lex.unit_map)
            b, e = m.span()
            spans.append((b, e))
            out.append(
                dict(kind="range", surface=text[b:e], match_norm=None, match_kind=None,
                     begin=b, end=e,
                     obj=f"range:[{fmt_num(lo)},{fmt_num(hi)}]{unit or ''}",
                     num=None, lo=lo, hi=hi, unit=unit, age_ctx=age_ctx)
            )
        masked = _mask(masked, spans)

    # --- X1 numbers on date+range-masked text
    for m in _NUM_RE.finditer(masked):
        v = float(m.group(1))
        if not math.isfinite(v):
            continue  # overflowing literals (e.g. 9e999) are not values
        unit = _unit_after(masked, m.end(), lex.unit_map)
        b, e = m.span()
        out.append(
            dict(kind="number", surface=text[b:e], match_norm=None, match_kind=None,
                 begin=b, end=e, obj=f"num:{fmt_num(v)}", num=v, lo=None,
                 hi=None, unit=unit, age_ctx=age_ctx)
        )
    return _dedupe_turn(out)


_KIND_RANK = {"label": 0, "synonym": 1, "tokens": 2}


def _value_pred(m: dict) -> str:
    """PRED_ROUTING applied to one mention dict — used only for the
    per-turn dedup key so it matches the triple's real identity (the same
    table drives link.route_predicates)."""
    is_age = bool(m["age_ctx"]) and m["unit"] in TIME_UNITS
    return PRED_ROUTING[(m["kind"], is_age)]


def _dedupe_turn(mentions: list[dict]) -> list[dict]:
    """Per-turn mention dedup — the in-extractor equivalent of a global
    dropDuplicates(subj, pred, obj): every duplicate triple shares its
    subject and therefore its source turn, so deduping here (pure Python,
    free) removes TWO cluster-wide shuffles from the pipeline (the
    best-link ranking window and the triple-level dropDuplicates).

    Terms: keep the best match per term target — label ⊐ synonym ⊐
    tokens, then earliest begin (so 'Homo sapiens' + 'human' in one turn
    emits one HIGH link). Sound because Lexicon.surface_map is a
    *function* surface→term; a multi-candidate dictionary must instead
    run the ranked best_link window (operators/link.py W1).
    Values: keep the first occurrence per (obj, pred) — the TRUE triple
    identity (subj is constant within a turn). Keying on (obj, unit)
    would let '72 kg and 72 cm' emit two (subj, hasNumber, num:72) rows
    that assemble_triples' dropDuplicates([subj, pred, obj]) collapses,
    diverging the zero-shuffle path from the generic one. pred is
    computed here exactly as operators/link.route_predicates does."""
    if len(mentions) <= 1:
        return mentions
    best_terms: dict[str, dict] = {}
    seen_vals: set[tuple] = set()
    out = []
    for m in mentions:
        if m["kind"] == "term":
            # rank by the term the surface resolves to, not the surface
            key = m["_tid"]
            cur = best_terms.get(key)
            if cur is None or (
                (_KIND_RANK[m["match_kind"]], m["begin"])
                < (_KIND_RANK[cur["match_kind"]], cur["begin"])
            ):
                best_terms[key] = m
        else:
            k = (m["obj"], _value_pred(m))
            if k not in seen_vals:
                seen_vals.add(k)
                out.append(m)
    return out + sorted(best_terms.values(), key=lambda m: (m["begin"], m["match_norm"]))


# ------------------------------------------------------------- Spark side

MENTION_SCHEMA = (
    "conv_id string, turn_idx int, subj string, kind string, surface string, "
    "match_norm string, match_kind string, begin int, end int, obj string, "
    "num double, lo double, hi double, unit string, age_ctx boolean"
)

_MENTION_COLS = [
    "conv_id", "turn_idx", "subj", "kind", "surface", "match_norm",
    "match_kind", "begin", "end", "obj", "num", "lo", "hi", "unit", "age_ctx",
]
_MENTION_FIELDS = _MENTION_COLS[3:]  # produced by extract_from_text


# per-worker-process lexicon cache: a pickled Lexicon object (15k+ terms,
# built indexes) costs O(0.5 s) to deserialize PER TASK; shipping the raw
# terms as one JSON string (near-free to unpickle) and building the
# Lexicon once per python worker process removes that cost from every
# task after the first. The asymmetry matters for scaling: at high
# parallelism all first-tasks land in a single wave, so per-task
# deserialization is pure critical-path loss.
_LEX_CACHE: dict[int, Lexicon] = {}


def _lexicon_from_json(terms_json: str) -> Lexicon:
    key = hash(terms_json)
    lex = _LEX_CACHE.get(key)
    if lex is None:
        import json as _json

        lex = Lexicon(terms=_json.loads(terms_json))
        lex.matcher_index()
        lex.label_token_map()
        _LEX_CACHE.clear()  # only ever one active dictionary per worker
        _LEX_CACHE[key] = lex
    return lex


def extract_mentions(transcripts, lex: Lexicon):
    """transcripts(conv_id, turn_idx, text, ...) → mentions DataFrame.

    Single partition-local mapInPandas pass; blank/NULL text rows are
    filtered JVM-side first (SURVEY.md P2) so Arrow never ships them.
    The dictionary travels as a JSON string and is compiled once per
    worker process (see _LEX_CACHE).
    """
    import json as _json

    terms_json = _json.dumps(lex.terms, sort_keys=True)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lex = _lexicon_from_json(terms_json)
        for pdf in batches:
            # columnar accumulation (dict-of-lists): ~2x cheaper to build
            # + convert to Arrow than a list of per-mention dicts
            cols: dict[str, list] = {c: [] for c in _MENTION_COLS}
            append = {c: cols[c].append for c in _MENTION_COLS}
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"].values, pdf["turn_idx"].values, pdf["text"].values
            ):
                ms = extract_from_text(text, lex)
                if not ms:
                    continue
                subj = f"{conv_id}:{turn_idx}"
                ti = int(turn_idx)
                for m in ms:
                    append["conv_id"](conv_id)
                    append["turn_idx"](ti)
                    append["subj"](subj)
                    for k in _MENTION_FIELDS:
                        append[k](m[k])
            yield pd.DataFrame(cols)

    from pyspark.sql import functions as F

    src = transcripts.where(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    ).select("conv_id", "turn_idx", "text")
    return src.mapInPandas(run, schema=MENTION_SCHEMA)
