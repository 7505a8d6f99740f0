"""The DuckDB checks catch one dropped or altered output row."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kgbench import check, gen


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("corpus"))
    gen.write_corpus_inputs(root, 5, n_docs=300, n_terms=2000, n_pool=300)
    return root, check.kg_answer(root, check.derived_transcripts_sql())


def test_answer_covers_every_tier(corpus):
    _, ans = corpus
    assert ans.triples and ans.curation
    assert all(ans.metrics[f"linked_{t}"] > 0 for t in check.TIERS)
    assert ans.metrics["triples_emitted"] == len(ans.triples)


def test_dropped_or_altered_triple_is_caught(corpus):
    _, ans = corpus
    got = list(ans.triples)
    assert check.diff("triples", got, ans.triples) == []
    assert check.diff("triples", got[1:], ans.triples)
    altered = got[:]
    row = list(altered[3])
    row[2] = "EFO:9999999"
    altered[3] = tuple(row)
    assert check.diff("triples", sorted(altered), ans.triples)


def test_altered_counter_or_curation_cell_is_caught(corpus):
    _, ans = corpus
    m = dict(ans.metrics)
    m["linked_fuzzy"] += 1
    assert check.metrics_diff(m, ans.metrics) == ["metrics: linked_fuzzy=%d expected %d" % (m["linked_fuzzy"], ans.metrics["linked_fuzzy"])]
    cur = [list(r) for r in ans.curation]
    cur[0][1] += 1
    assert check.diff("curation", [tuple(r) for r in cur], ans.curation)


def test_curate_answer_catches_dropped_doc(corpus):
    root, _ = corpus
    want = check.curate_answer(root)
    assert {r[2] for r in want} >= {"keep", "exact_duplicate", "near_duplicate"}
    assert check.diff("curated", want[:-1], want)


def test_job_output_check_reads_parquet(tmp_path, corpus):
    _, ans = corpus
    out = str(tmp_path / "out")
    triples = [dict(zip(check.TRIPLE_COLS, r)) for r in ans.triples]
    for sub, rows in (
        ("triples/bucket=0", triples),
        ("metrics", [{"counter": k, "value": v} for k, v in ans.metrics.items()]),
        ("curation", [{"mention_norm": m, "freq": f, "candidates": c} for m, f, c in ans.curation]),
    ):
        os.makedirs(os.path.join(out, sub))
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(out, sub, "part-0.parquet"))
    assert check.job_output_diff(out, ans) == []
    pq.write_table(pa.Table.from_pylist(triples[:-1]), os.path.join(out, "triples/bucket=0/part-0.parquet"))
    assert check.job_output_diff(out, ans) == [f"triples: {len(triples) - 1} rows, expected {len(triples)}"]


def test_curate_answer_matches_program_twin(corpus):
    """The staged curate answer gives the rows of the program's own DuckDB
    twin ``oracle.all_oracle_sql()['corpus_curate']``."""
    from eva_opentargets_spark.oracle import all_oracle_sql

    root, _ = corpus
    con = check._duck()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{root}/documents.parquet'")
        twin = sorted(check.curate_key(r) for r in con.execute(all_oracle_sql()["corpus_curate"]).fetchall())
    finally:
        con.close()
    assert twin == check.curate_answer(root)
