"""Seeded input generators for the KG benchmark.

Every input is built in this process from one ``numpy.random.Generator``
per component (``default_rng([seed, component])``) and written with
pyarrow, so the same seed gives byte-identical files and the program under
test only ever sees the files.

Two input sets:

* ``write_wave_job_inputs`` -- multi-turn transcripts over the demo
  dictionary's vocabulary, one parquet file per conv_id bucket, read by
  ``job.py --transcripts``.  The demo dictionary itself is also written
  (``terms.parquet``/``xrefs.parquet``) for the DuckDB check only.
* ``write_corpus_inputs`` -- a generated ontology (terms, synonyms, xrefs,
  obsolete terms with ``replaced_by``), its gazetteer vocabulary, and a
  document corpus in the ``documents.parquet`` layout with exact and near
  duplicates and a spread of quality.

Both corpora draw mentions Zipf-skewed from a pool, so a few hot strings
dominate, and mix in stop-listed words.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPLIST = ("the", "a", "data", "value")  # mirrors config.STOPLIST
QUALITY_STOPWORDS = ("the", "a", "of", "and", "is")  # mirrors text.quality_score
EXCLUDED_TOOL_NAMES = ("redacted", "blocked")  # mirrors config.EXCLUDED_TOOLS
N_BUCKETS_ON_DISK = 32

TERMS_SCHEMA = pa.schema(
    [
        ("term_id", pa.string()),
        ("iri", pa.string()),
        ("ontology", pa.string()),
        ("label", pa.string()),
        ("synonyms", pa.list_(pa.string())),
        ("in_target_ontology", pa.bool_()),
        ("is_obsolete", pa.bool_()),
        ("replaced_by", pa.string()),
    ]
)
XREFS_SCHEMA = pa.schema(
    [
        ("src_curie", pa.string()),
        ("dst_curie", pa.string()),
        ("distance", pa.int32()),
        ("source", pa.string()),
    ]
)


def _rng(seed: int, component: int) -> np.random.Generator:
    return np.random.default_rng([seed, component])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


_CONS = np.array(list("bcdfghklmnprstvz"))
_VOW = np.array(list("aeiou"))


def pseudo_word(rng: np.random.Generator, lo: int, hi: int) -> str:
    """A pronounceable lowercase word of lo..hi letters (consonant/vowel
    alternation keeps random words far apart in edit distance)."""
    n = int(rng.integers(lo, hi + 1))
    cons = _CONS[rng.integers(0, len(_CONS), n)]
    vows = _VOW[rng.integers(0, len(_VOW), n)]
    start = int(rng.integers(0, 2))
    return "".join(cons[i] if (i + start) % 2 == 0 else vows[i] for i in range(n))


def fillers(rng: np.random.Generator, n: int) -> list[str]:
    """Filler words of 2..4 letters: too short to ever be a fuzzy candidate
    (max_lev = len - 4 <= 0) and disjoint from every label by length."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = pseudo_word(rng, 2, 4)
        if w not in seen and w not in STOPLIST and w not in QUALITY_STOPWORDS:
            seen.add(w)
            out.append(w)
    return out


def edit(rng: np.random.Generator, word: str, k: int) -> str:
    """Apply k random single-letter substitutions/insertions/deletions."""
    s = list(word)
    for _ in range(k):
        op = int(rng.integers(0, 3))
        i = int(rng.integers(0, len(s)))
        letter = str(_CONS[rng.integers(0, len(_CONS))])
        if op == 0 and s[i] != " ":
            s[i] = letter if s[i] != letter else "x"
        elif op == 1:
            s.insert(i, letter)
        elif len(s) > 1 and s[i] != " ":
            del s[i]
        else:
            s.insert(i, letter)
    return "".join(s)


# --------------------------------------------------------------------------
# kg_wave_job: transcripts over the demo dictionary


def demo_dictionary_tables() -> tuple[pa.Table, pa.Table]:
    """The program's built-in demo dictionary (what job.py links against),
    as parquet tables for the DuckDB check."""
    from eva_opentargets_spark import fixtures

    syns: dict[str, list[str]] = {}
    for tid, syn in fixtures.TERM_SYNONYMS:
        syns.setdefault(tid, []).append(syn)
    terms = pa.Table.from_pylist(
        [
            {
                "term_id": tid,
                "iri": iri,
                "ontology": ont,
                "label": label,
                "synonyms": sorted(syns[tid]) if tid in syns else None,
                "in_target_ontology": in_t,
                "is_obsolete": obs,
                "replaced_by": rep,
            }
            for tid, iri, ont, label, in_t, obs, rep in fixtures.ONTOLOGY_TERMS
        ],
        schema=TERMS_SCHEMA,
    )
    xrefs = pa.Table.from_pylist(
        [
            {"src_curie": s, "dst_curie": d, "distance": n, "source": src}
            for s, d, n, src in fixtures.ONTOLOGY_XREFS
        ],
        schema=XREFS_SCHEMA,
    )
    return terms, xrefs


@dataclass
class Transcripts:
    n_turns: int
    n_convs: int
    excluded: int
    table: pa.Table = field(repr=False)


def transcripts_table(seed: int, n_turns: int, vocabulary: list[str], turns_per_conv: int = 20) -> Transcripts:
    """~300-character turns: fillers plus Zipf-drawn vocabulary mentions
    (casefold variants included), stop-listed words, ~6% turns from an
    excluded tool and a few empty turns."""
    rng = _rng(seed, 1)
    fill = np.array(fillers(rng, 400))
    fill_w = zipf_weights(len(fill), 0.8)
    pool = sorted(vocabulary)
    rng.shuffle(pool)
    pool += [w.capitalize() for w in pool[:6]]  # casefold variants
    pool_w = zipf_weights(len(pool), 1.1)

    n_convs = max(1, n_turns // turns_per_conv)
    conv = np.arange(n_turns) % n_convs
    turn = np.arange(n_turns) // n_convs
    n_fill = rng.integers(50, 80, n_turns)
    n_ment = rng.integers(0, 7, n_turns)
    tool_draw = rng.random(n_turns)
    # every draw vectorized; turn i takes its slice of each stream
    fill_words = fill[rng.choice(len(fill), int(n_fill.sum()), p=fill_w)].tolist()
    ment_words = [pool[m] for m in rng.choice(len(pool), int(n_ment.sum()), p=pool_w)]
    ment_pos = rng.random(len(ment_words)).tolist()
    texts: list[str | None] = []
    tools: list[str | None] = []
    f_lo = m_lo = 0
    for f_hi, m_hi, t in zip(np.cumsum(n_fill).tolist(), np.cumsum(n_ment).tolist(), tool_draw.tolist()):
        words = fill_words[f_lo:f_hi]
        for j in range(m_lo, m_hi):
            words.insert(int(ment_pos[j] * (len(words) + 1)), ment_words[j])
        f_lo, m_lo = f_hi, m_hi
        tools.append(
            EXCLUDED_TOOL_NAMES[int(t * 1000) % 2] if t < 0.06 else ("search" if t < 0.2 else None)
        )
        texts.append("" if t > 0.996 else " ".join(words))
    ts = (np.datetime64("2025-01-01T00:00:00", "us") + np.arange(n_turns) * np.timedelta64(7, "s"))
    table = pa.table(
        {
            "conv_id": pa.array([f"c{c:06d}" for c in conv], pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array([("user", "assistant", "tool")[i % 3] for i in range(n_turns)], pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(tools, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )
    excluded = sum(1 for x, t in zip(texts, tools) if not x or t in EXCLUDED_TOOL_NAMES)
    return Transcripts(n_turns, n_convs, excluded, table)


def write_wave_job_inputs(root: str, seed: int, n_turns: int) -> dict:
    from eva_opentargets_spark import fixtures

    tr = transcripts_table(seed, n_turns, fixtures.mention_vocabulary())
    tdir = os.path.join(root, "transcripts")
    os.makedirs(tdir, exist_ok=True)
    conv_num = np.array([int(c[1:]) for c in tr.table.column("conv_id").to_pylist()])
    for b in range(N_BUCKETS_ON_DISK):
        part = tr.table.filter(pa.array(conv_num % N_BUCKETS_ON_DISK == b))
        _write(part, os.path.join(tdir, f"part-{b:02d}.parquet"))
    terms, xrefs = demo_dictionary_tables()
    _write(terms, os.path.join(root, "terms.parquet"))
    _write(xrefs, os.path.join(root, "xrefs.parquet"))
    _write(
        pa.table({"term": pa.array(fixtures.mention_vocabulary(), pa.string())}),
        os.path.join(root, "vocabulary.parquet"),
    )
    return {"turns": tr.n_turns, "conversations": tr.n_convs, "excluded_turns": tr.excluded}


# --------------------------------------------------------------------------
# corpus_link_heavy: generated ontology + documents with duplicates

# Intended tier mix of the distinct-mention pool (shares sum to 1). The
# DuckDB check computes the real outcome; these only shape the generator.
TIER_MIX = {
    "exact": 0.55,
    "normalized": 0.08,
    "fuzzy_1edit": 0.10,
    "fuzzy_2_3edit": 0.06,
    "xref": 0.07,
    "replacement": 0.07,
    "unmapped": 0.07,
}


@dataclass
class Ontology:
    terms: pa.Table
    xrefs: pa.Table
    vocabulary: list[str]
    pool: list[str]
    pool_tier: list[str]


def ontology(seed: int, n_terms: int, n_pool: int) -> Ontology:
    """n_terms terms: 5% out of the target ontology (MONDO, reached through
    xrefs); of the EFO terms 3% obsolete (85% with ``replaced_by``), 3% with
    punctuated labels, 1% sharing a label pairwise, 25% with a synonym.
    Plus a pool of n_pool distinct mention strings drawn per TIER_MIX and
    the gazetteer vocabulary (labels, synonyms, pool, stoplist)."""
    rng = _rng(seed, 2)
    used: set[str] = set(STOPLIST)

    def fresh(lo: int, hi: int) -> str:
        while True:
            w = pseudo_word(rng, lo, hi)
            if w not in used:
                used.add(w)
                return w

    rows = []
    n_out = n_terms // 20  # out-of-target (MONDO) terms, xref-only links
    for i in range(n_terms):
        label = fresh(5, 11) if rng.random() < 0.8 else f"{fresh(4, 8)} {fresh(4, 8)}"
        out_of_target = i < n_out
        rows.append(
            {
                "term_id": (f"MONDO:{i:07d}" if out_of_target else f"EFO:{i:07d}"),
                "iri": (
                    f"http://purl.obolibrary.org/obo/MONDO_{i:07d}"
                    if out_of_target
                    else f"http://www.ebi.ac.uk/efo/EFO_{i:07d}"
                ),
                "ontology": "MONDO" if out_of_target else "EFO",
                "label": label,
                "synonyms": None,
                "in_target_ontology": not out_of_target,
                "is_obsolete": False,
                "replaced_by": None,
            }
        )
    efo = np.arange(n_out, n_terms)
    rng.shuffle(efo)
    cut = iter(np.split(efo, [len(efo) * 3 // 100, len(efo) * 6 // 100, len(efo) * 7 // 100, len(efo) * 32 // 100]))
    obsolete, punct, ambiguous, with_syn = (next(cut) for _ in range(4))
    current = next(cut)
    for i in obsolete:
        rows[i]["is_obsolete"] = True
        if rng.random() < 0.85:
            rows[i]["replaced_by"] = rows[int(current[rng.integers(0, len(current))])]["term_id"]
    for i in punct:  # normalized tier: label folds to the mention, e.g. "foo-bar" / "foo!"
        a = rows[i]["label"].split(" ")
        rows[i]["label"] = f"{a[0]}-{a[1]}" if len(a) == 2 else a[0].capitalize() + "!"
    for k in range(0, len(ambiguous) - 1, 2):  # two current terms share one label
        rows[int(ambiguous[k + 1])]["label"] = rows[int(ambiguous[k])]["label"]
    for i in with_syn:
        rows[i]["synonyms"] = [fresh(5, 10)]
    # xrefs: every MONDO term points at a current EFO term, at distance 1
    # (accepted) or 2 (rejected); plus noise edges the cascade must ignore
    xrefs = []
    for i in range(n_out):
        dst = rows[int(current[rng.integers(0, len(current))])]["term_id"]
        xrefs.append((rows[i]["term_id"], dst, 1 if rng.random() < 0.75 else 2, "mondo"))
        if rng.random() < 0.2:
            xrefs.append((dst, rows[i]["term_id"], 1, "mondo"))
    terms = pa.Table.from_pylist(rows, schema=TERMS_SCHEMA)
    xref_tab = pa.Table.from_pylist(
        [dict(zip(XREFS_SCHEMA.names, x)) for x in xrefs], schema=XREFS_SCHEMA
    )

    # distinct-mention pool by tier
    lower = lambda r: r["label"].lower()  # noqa: E731
    cur_single = [lower(rows[int(i)]) for i in current if " " not in rows[int(i)]["label"]]
    draws = {
        "exact": [lower(rows[int(i)]) for i in current]
        + [s for i in with_syn for s in rows[int(i)]["synonyms"]],
        "normalized": [
            lower(rows[int(i)]).replace("-", " ").rstrip("!") for i in punct
        ],
        "xref": [lower(rows[i]) for i in range(n_out)],
        "replacement": [lower(rows[int(i)]) for i in obsolete if rows[int(i)]["replaced_by"]],
    }
    pool: list[str] = []
    tiers: list[str] = []
    taken: set[str] = set()
    labels_lower = {lower(r) for r in rows} | {s for i in with_syn for s in rows[int(i)]["synonyms"]}
    for tier, share in TIER_MIX.items():
        want = max(1, int(round(share * n_pool)))
        got = 0
        for _ in range(want * 20):
            if got == want:
                break
            if tier in draws:
                src = draws[tier]
                m = src[int(rng.integers(0, len(src)))]
            elif tier == "unmapped":
                m = fresh(6, 12)
            else:
                base = cur_single[int(rng.integers(0, len(cur_single)))]
                k = 1 if tier == "fuzzy_1edit" else int(rng.integers(2, 4))
                if len(base) < k + 5:
                    continue
                m = edit(rng, base, k)
                if m in labels_lower:
                    continue
            if m in taken or not m or m.count(" ") > 1:
                continue
            taken.add(m)
            pool.append(m)
            tiers.append(tier)
            got += 1
    order = rng.permutation(len(pool))
    pool = [pool[i] for i in order]
    tiers = [tiers[i] for i in order]
    vocabulary = sorted(labels_lower | set(pool) | set(STOPLIST))
    vocabulary = [v for v in vocabulary if v and v.count(" ") <= 1]
    return Ontology(terms, xref_tab, vocabulary, pool, tiers)


@dataclass
class Corpus:
    n_docs: int
    exact_dups: int
    near_dups: int
    table: pa.Table = field(repr=False)


def documents_table(seed: int, n_docs: int, pool: list[str]) -> Corpus:
    """documents.parquet layout (doc_id, text, lang, source, n_chars):
    ~300 characters of fillers, pool mentions and stop words, with ~10%
    exact duplicates (some differing only in case/whitespace), ~10% near
    duplicates (1-3 word edits) and a spread of quality (short docs,
    stop-word-heavy docs)."""
    rng = _rng(seed, 3)
    fill = fillers(rng, 600)
    fill_w = zipf_weights(len(fill), 0.7)
    # flatter than the transcripts' skew so that ~1.5k distinct mentions
    # (~1.2k linked) occur: the join form of compute_metrics needs more
    # linked mentions than MAPPING_LITERAL_THRESHOLD
    pool_w = zipf_weights(len(pool), 0.8)
    stop = list(STOPLIST) + [w for w in QUALITY_STOPWORDS if w not in STOPLIST]
    texts: list[str] = []
    kinds = rng.random(n_docs)
    exact = near = 0
    for i in range(n_docs):
        if i >= 20 and kinds[i] < 0.10:
            src = texts[int(rng.integers(0, i))]
            texts.append(src.upper() if rng.random() < 0.3 else src)
            exact += 1
            continue
        if i >= 20 and kinds[i] < 0.20:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = fill[int(rng.integers(0, len(fill)))]
            texts.append(" ".join(words))
            near += 1
            continue
        short = rng.random() < 0.08
        n_fill = int(rng.integers(2, 7)) if short else int(rng.integers(45, 70))
        words = [fill[j] for j in rng.choice(len(fill), n_fill, p=fill_w)]
        n_stop = int(rng.integers(2, 7)) if short else int(rng.integers(0, 6))
        n_ment = int(rng.integers(1, 3)) if short else int(rng.integers(4, 11))
        inserts = [pool[j] for j in rng.choice(len(pool), n_ment, p=pool_w)]
        inserts += [stop[int(rng.integers(0, len(stop)))] for _ in range(n_stop)]
        for w in inserts:
            words.insert(int(rng.integers(0, len(words) + 1)), w)
        texts.append(" ".join(words))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 7, n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return Corpus(n_docs, exact, near, table)


def write_corpus_inputs(root: str, seed: int, n_docs: int, n_terms: int, n_pool: int) -> dict:
    onto = ontology(seed, n_terms, n_pool)
    docs = documents_table(seed, n_docs, onto.pool)
    os.makedirs(root, exist_ok=True)
    _write(onto.terms, os.path.join(root, "terms.parquet"))
    _write(onto.xrefs, os.path.join(root, "xrefs.parquet"))
    _write(pa.table({"term": pa.array(onto.vocabulary, pa.string())}), os.path.join(root, "vocabulary.parquet"))
    _write(docs.table, os.path.join(root, "documents.parquet"))
    mix: dict[str, int] = {}
    for t in onto.pool_tier:
        mix[t] = mix.get(t, 0) + 1
    return {
        "documents": docs.n_docs,
        "exact_dup_docs": docs.exact_dups,
        "near_dup_docs": docs.near_dups,
        "terms": onto.terms.num_rows,
        "vocabulary": len(onto.vocabulary),
        "mention_pool": len(onto.pool),
        "pool_tier_mix": mix,
    }
