"""Answers computed outside Spark (DuckDB over the generated files) and the
comparisons that decide whether an iteration's output is correct.

The KG answer is a chain of SQL steps parameterised by the dictionary
tables (``terms``, ``xrefs``, ``vocab``) instead of the program's fixture
constants, so the same SQL checks the demo dictionary (kg_wave_job) and the
generated 12k-term ontology (corpus_link_heavy).  The corpus-curation answer
follows the program's DuckDB twin ``corpus_curate`` step for step, staged
through temp tables (the twin as written takes about a minute on 4k
documents).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb

STOP = ("the", "a", "data", "value")  # mirrors config.STOPLIST
EXCLUDED = ("blocked", "redacted")  # mirrors config.EXCLUDED_TOOLS
TIERS = ("exact", "normalized", "fuzzy", "xref", "replacement")


def _in(values) -> str:
    return "(" + ", ".join("'" + v + "'" for v in sorted(values)) + ")"


FOLD = "trim(regexp_replace(regexp_replace(lower({x}), '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g'))"


def kg_steps(transcripts_sql: str) -> list[tuple[str, str]]:
    """Turn gauntlet -> unigram/bigram gazetteer -> stoplist -> distinct
    mentions -> exact -> normalized -> fuzzy -> xref -> replacement ->
    triples, with the cascade's acceptance rules, as (table, query) steps
    materialized in order; each step reads tables of earlier steps."""
    fold_label, fold_mention = FOLD.format(x="label_norm"), FOLD.format(x="mention_norm")
    return [
        ("transcripts", transcripts_sql),
        (
            "valid_turns",
            f"""SELECT * FROM transcripts
  WHERE text IS NOT NULL AND text <> '' AND (tool IS NULL OR tool NOT IN {_in(EXCLUDED)})""",
        ),
        (
            "grams",
            """SELECT conv_id, turn_idx, pos, toks[pos + 1] AS g1, toks[pos + 1] || ' ' || toks[pos + 2] AS g2
  FROM (
    SELECT conv_id, turn_idx, toks, CAST(unnest(range(len(toks))) AS INT) AS pos
    FROM (SELECT conv_id, turn_idx, string_split(lower(text), ' ') AS toks FROM valid_turns)
  )""",
        ),
        (
            "mentions_all",
            """SELECT conv_id, turn_idx, pos, g1 AS mention_norm FROM grams JOIN vocab ON vocab.term = g1
  UNION ALL
  SELECT conv_id, turn_idx, pos, g2 AS mention_norm FROM grams JOIN vocab ON vocab.term = g2""",
        ),
        ("mentions", f"SELECT * FROM mentions_all WHERE mention_norm NOT IN {_in(STOP)}"),
        (
            "dm",
            """SELECT mention_norm, count(DISTINCT (conv_id, turn_idx)) AS freq
  FROM mentions GROUP BY mention_norm""",
        ),
        (
            "surface",
            """SELECT term_id, lower(label) AS label_norm, in_target_ontology, is_obsolete, replaced_by
  FROM terms
  UNION ALL
  SELECT term_id, lower(unnest(synonyms)), in_target_ontology, is_obsolete, replaced_by
  FROM terms WHERE synonyms IS NOT NULL""",
        ),
        ("cur_surface", "SELECT * FROM surface WHERE in_target_ontology AND NOT is_obsolete"),
        (
            "exact_links",
            """SELECT mention_norm, min(term_id) AS term_id, 'exact' AS match_type,
         'HIGH' AS confidence, 'mapped_to' AS pred
  FROM dm JOIN cur_surface ON label_norm = mention_norm
  GROUP BY mention_norm HAVING count(DISTINCT term_id) = 1""",
        ),
        ("un0", "SELECT * FROM dm ANTI JOIN exact_links USING (mention_norm)"),
        (
            "norm_links",
            f"""SELECT mention_norm, min(term_id) AS term_id, 'normalized' AS match_type,
         'HIGH' AS confidence, 'mapped_to' AS pred
  FROM un0 JOIN cur_surface ON {fold_label} = {fold_mention}
  GROUP BY mention_norm HAVING count(DISTINCT term_id) = 1""",
        ),
        (
            "un1",
            """SELECT mention_norm, length(mention_norm) AS len,
         least(3, greatest(0, length(mention_norm) - 4)) AS max_lev
  FROM un0 ANTI JOIN norm_links USING (mention_norm)""",
        ),
        (
            # |len(m) - len(label)| <= max_lev is a Levenshtein lower bound:
            # a pure pre-filter that lets DuckDB use a range join
            "cands",
            """SELECT * EXCLUDE (max_lev),
         CASE WHEN lev <= 1 THEN 'HIGH' WHEN lev = 2 THEN 'GOOD' ELSE 'MEDIUM' END AS confidence
  FROM (
    SELECT u.mention_norm, u.max_lev, t.term_id, t.label_norm,
           t.in_target_ontology AS in_ontology,
           (t.in_target_ontology AND NOT t.is_obsolete) AS is_current,
           t.is_obsolete, t.replaced_by,
           levenshtein(u.mention_norm, t.label_norm) AS lev
    FROM un1 u JOIN (SELECT *, length(label_norm) AS len FROM surface) t
      ON t.len >= u.len - u.max_lev AND t.len <= u.len + u.max_lev
  )
  WHERE lev <= max_lev""",
        ),
        (
            "fuzzy_links",
            """SELECT mention_norm, term_id, 'fuzzy' AS match_type,
         CASE WHEN min(lev) <= 1 THEN 'HIGH' WHEN min(lev) = 2 THEN 'GOOD' ELSE 'MEDIUM' END
           AS confidence,
         'mapped_to' AS pred
  FROM cands
  WHERE in_ontology AND is_current AND (confidence = 'HIGH' OR label_norm = mention_norm)
  GROUP BY mention_norm, term_id""",
        ),
        ("un2", "SELECT mention_norm FROM un1 ANTI JOIN fuzzy_links USING (mention_norm)"),
        (
            "gate",
            """SELECT mention_norm FROM cands GROUP BY mention_norm
  HAVING max(CASE WHEN is_current THEN 1 ELSE 0 END) = 0""",
        ),
        ("cur_terms", "SELECT term_id FROM terms WHERE in_target_ontology AND NOT is_obsolete"),
        (
            "xref_links",
            """SELECT DISTINCT s.mention_norm, x.dst_curie AS term_id, 'xref' AS match_type,
         'HIGH' AS confidence, 'is_a' AS pred
  FROM (
    SELECT DISTINCT c.mention_norm, c.term_id AS seed_id
    FROM cands c JOIN un2 USING (mention_norm) JOIN gate USING (mention_norm)
    WHERE c.confidence = 'HIGH'
  ) s
  JOIN xrefs x ON x.src_curie = s.seed_id AND x.distance = 1
  JOIN cur_terms d ON d.term_id = x.dst_curie""",
        ),
        ("un3", "SELECT mention_norm FROM un2 ANTI JOIN xref_links USING (mention_norm)"),
        (
            "repl_links",
            """SELECT DISTINCT c.mention_norm, r.term_id, 'replacement' AS match_type,
         'HIGH' AS confidence, 'is_a' AS pred
  FROM cands c JOIN un3 USING (mention_norm)
  JOIN cur_terms r ON r.term_id = c.replaced_by
  WHERE c.lev = 0 AND c.is_obsolete""",
        ),
        ("un4", "SELECT mention_norm FROM un3 ANTI JOIN repl_links USING (mention_norm)"),
        (
            "links",
            """SELECT * FROM exact_links UNION ALL SELECT * FROM norm_links
  UNION ALL SELECT * FROM fuzzy_links UNION ALL SELECT * FROM xref_links
  UNION ALL SELECT * FROM repl_links""",
        ),
        (
            "triples",
            """SELECT DISTINCT
         m.conv_id || ':' || CAST(m.turn_idx AS VARCHAR) || ':' || m.mention_norm AS subj,
         l.pred, l.term_id AS obj, m.conv_id, m.turn_idx, m.mention_norm AS mention_text,
         l.match_type, l.confidence
  FROM mentions m JOIN links l USING (mention_norm)""",
        ),
    ]


METRICS_SQL = f"""
SELECT 'turns_total' AS counter, count(*) AS value FROM transcripts
UNION ALL SELECT 'turns_excluded', (SELECT count(*) FROM transcripts) - (SELECT count(*) FROM valid_turns)
UNION ALL SELECT 'mentions_total', count(*) FROM mentions_all
UNION ALL SELECT 'mentions_stoplisted', count(*) FROM mentions_all WHERE mention_norm IN {_in(STOP)}
UNION ALL SELECT 'mentions_valid', count(*) FROM mentions
UNION ALL SELECT 'mentions_distinct', count(*) FROM dm
UNION ALL SELECT 'unmapped', count(*) FROM un4
UNION ALL SELECT 'triples_emitted', count(*) FROM triples
""" + "".join(
    f"UNION ALL SELECT 'linked_{t}', count(DISTINCT mention_norm) FROM links WHERE match_type = '{t}'\n"
    for t in TIERS
)

CURATION_SQL = """
WITH cand_un AS (
  SELECT * FROM (
    SELECT c.*, row_number() OVER (
      PARTITION BY mention_norm, term_id ORDER BY lev, label_norm) AS sv
    FROM cands c JOIN un4 USING (mention_norm)
  ) WHERE sv = 1
),
ranked AS (
  SELECT mention_norm,
         term_id || '|' || label_norm || '|' || confidence || '|' ||
         CASE WHEN in_ontology AND is_current THEN 'EFO_CURRENT'
              WHEN in_ontology THEN 'EFO_OBSOLETE' ELSE 'NOT_CONTAINED' END AS cell,
         row_number() OVER (
           PARTITION BY mention_norm
           ORDER BY CASE confidence WHEN 'HIGH' THEN 4 WHEN 'GOOD' THEN 3 WHEN 'MEDIUM' THEN 2
                    ELSE 1 END DESC,
                    in_ontology DESC, is_current DESC, term_id, lev, label_norm) AS rank
  FROM cand_un
),
packed AS (
  SELECT mention_norm, list(cell ORDER BY rank) AS candidates
  FROM ranked WHERE rank <= 50 GROUP BY mention_norm
)
SELECT u.mention_norm, coalesce(d.freq, 0) AS freq, coalesce(p.candidates, []) AS candidates
FROM un4 u LEFT JOIN dm d USING (mention_norm) LEFT JOIN packed p USING (mention_norm)
ORDER BY freq DESC, mention_norm
"""

TRIPLE_COLS = ("subj", "pred", "obj", "conv_id", "turn_idx", "mention_text", "match_type", "confidence")


@dataclass
class KgAnswer:
    triples: list[tuple]
    metrics: dict[str, int]
    curation: list[tuple]


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0))})
    con.execute("SET enable_progress_bar = false")
    return con


def _connect(root: str) -> duckdb.DuckDBPyConnection:
    con = _duck()
    con.execute(f"CREATE VIEW terms AS SELECT * FROM '{root}/terms.parquet'")
    con.execute(f"CREATE VIEW xrefs AS SELECT * FROM '{root}/xrefs.parquet'")
    con.execute(f"CREATE VIEW vocab AS SELECT DISTINCT term FROM '{root}/vocabulary.parquet'")
    return con


def derived_transcripts_sql() -> str:
    from eva_opentargets_spark.sources.transcripts import derive_transcripts_duckdb_sql

    return derive_transcripts_duckdb_sql("")


def kg_answer(root: str, transcripts_sql: str) -> KgAnswer:
    """The expected triples, Report counters and curation rows for the
    inputs under ``root``."""
    con = _connect(root)
    try:
        if os.path.exists(f"{root}/documents.parquet"):
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{root}/documents.parquet'")
        for name, query in kg_steps(transcripts_sql):
            con.execute(f"CREATE TEMP TABLE {name} AS {query}")
        triples = sorted(con.execute("SELECT " + ", ".join(TRIPLE_COLS) + " FROM triples").fetchall())
        metrics = dict(con.execute(METRICS_SQL).fetchall())
        curation = [(m, int(f), list(c)) for m, f, c in con.execute(CURATION_SQL).fetchall()]
    finally:
        con.close()
    return KgAnswer(triples, {k: int(v) for k, v in metrics.items()}, curation)


CURATE_STEPS = [
    (
        "tok_docs",
        "SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents",
    ),
    (
        # md5 of each DISTINCT token once per hash family, then min per doc
        "tok_hash",
        """SELECT tok, i, md5(CAST(i AS VARCHAR) || ':' || tok) AS h
  FROM (SELECT DISTINCT tok FROM tok_docs), range({n_hashes}) r(i)""",
    ),
    ("sigs", "SELECT doc_id, i, min(h) AS h FROM tok_docs JOIN tok_hash USING (tok) GROUP BY doc_id, i"),
    (
        "bands",
        """SELECT doc_id, i // {rows_per_band} AS band, md5(string_agg(h, '' ORDER BY i)) AS band_key
  FROM sigs GROUP BY doc_id, band""",
    ),
    (
        "edges",
        """WITH pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  )
  SELECT doc_a AS src, doc_b AS dst FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs""",
    ),
    ("l0", "SELECT doc_id, doc_id AS cluster_id FROM documents"),
    *[
        (
            f"l{r}",
            f"""SELECT l.doc_id, least(l.cluster_id, coalesce(m.nmin, l.cluster_id)) AS cluster_id
  FROM l{r - 1} l LEFT JOIN (
    SELECT e.src AS doc_id, min(n.cluster_id) AS nmin
    FROM edges e JOIN l{r - 1} n ON n.doc_id = e.dst GROUP BY e.src
  ) m USING (doc_id)""",
        )
        for r in (1, 2, 3)
    ],
    (
        "curated",
        """SELECT f.doc_id, f.q AS quality,
         CASE WHEN NOT f.fp_canon THEN 'exact_duplicate'
              WHEN n.cluster_id <> n.doc_id THEN 'near_duplicate'
              WHEN f.q < 0.5 THEN 'low_quality'
              ELSE 'keep' END AS drop_reason
  FROM (
    SELECT doc_id,
           row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) ORDER BY doc_id
           ) = 1 AS fp_canon,
           round(0.5 * least(1.0, len(string_split(lower(text), ' ')) / 20.0)
             + 0.5 * (1 - len(list_filter(string_split(lower(text), ' '),
                                          t -> t IN ('the', 'a', 'of', 'and', 'is')))
                      / greatest(len(string_split(lower(text), ' ')), 1)), 4) AS q
    FROM documents
  ) f JOIN l3 n USING (doc_id)""",
    ),
]


def curate_answer(root: str) -> list[tuple]:
    """(doc_id, quality, drop_reason) for corpus.curate over MinHash-LSH
    near-dup clusters (3 propagation rounds): the semantics of the
    program's DuckDB twin ``corpus_curate``, staged through temp tables so
    each token is hashed once."""
    from eva_opentargets_spark.operators.dedup import N_BANDS, N_MINHASHES

    con = _duck()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{root}/documents.parquet'")
        for name, query in CURATE_STEPS:
            query = query.format(n_hashes=N_MINHASHES, rows_per_band=N_MINHASHES // N_BANDS)
            con.execute(f"CREATE TEMP TABLE {name} AS {query}")
        rows = con.execute("SELECT * FROM curated").fetchall()
    finally:
        con.close()
    return sorted(curate_key(r) for r in rows)


def curate_key(row) -> tuple:
    doc_id, quality, reason = row
    return int(doc_id), f"{float(quality):.4f}", reason


# ---------------------------------------------------------------- comparisons


def triple_key(row) -> tuple:
    return tuple(int(row[i]) if c == "turn_idx" else row[i] for i, c in enumerate(TRIPLE_COLS))


def diff(name: str, got: list, want: list) -> list[str]:
    """Empty when equal; otherwise one line naming the first difference."""
    if got == want:
        return []
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    first = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
    return [f"{name}: row {first} is {got[first]!r}, expected {want[first]!r}"]


def metrics_diff(got: dict, want: dict) -> list[str]:
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return [f"metrics: {k}={got.get(k)} expected {want.get(k)}" for k in bad]


def job_outputs(out_dir: str) -> tuple[list[tuple], dict[str, int], list[tuple]]:
    """(sorted triples, Report counters, sorted curation rows) read back
    from a job.py output directory."""
    con = _duck()
    try:
        triples = sorted(
            triple_key(r)
            for r in con.execute(
                "SELECT " + ", ".join(TRIPLE_COLS) + f" FROM '{out_dir}/triples/*/*.parquet'"
            ).fetchall()
        )
        metrics = {
            k: int(v)
            for k, v in con.execute(f"SELECT counter, value FROM '{out_dir}/metrics/*.parquet'").fetchall()
        }
        curation = sorted(
            (m, int(f), list(c))
            for m, f, c in con.execute(
                f"SELECT mention_norm, freq, candidates FROM '{out_dir}/curation/*.parquet'"
            ).fetchall()
        )
    finally:
        con.close()
    return triples, metrics, curation


def job_output_diff(out_dir: str, answer: KgAnswer) -> list[str]:
    """Compare a job.py output directory with the answer."""
    triples, metrics, curation = job_outputs(out_dir)
    return (
        diff("triples", triples, answer.triples)
        + metrics_diff(metrics, answer.metrics)
        + diff("curation", curation, sorted(answer.curation))
    )
