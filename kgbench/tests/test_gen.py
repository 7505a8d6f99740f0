"""Generator determinism: same seed -> identical bytes; other seed -> other data."""

import hashlib
import os

from kgbench import gen


def _digest(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_corpus_inputs_are_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    info_a = gen.write_corpus_inputs(a, 7, n_docs=300, n_terms=2000, n_pool=300)
    info_b = gen.write_corpus_inputs(b, 7, n_docs=300, n_terms=2000, n_pool=300)
    gen.write_corpus_inputs(c, 8, n_docs=300, n_terms=2000, n_pool=300)
    assert info_a == info_b
    assert _digest(a) == _digest(b)
    da, dc = _digest(a), _digest(c)
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da)


def test_wave_job_inputs_are_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_wave_job_inputs(a, 3, n_turns=500)
    gen.write_wave_job_inputs(b, 3, n_turns=500)
    gen.write_wave_job_inputs(c, 4, n_turns=500)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_corpus_mix():
    onto = gen.ontology(1, n_terms=3000, n_pool=500)
    assert onto.terms.num_rows == 3000
    assert len(set(onto.pool)) == len(onto.pool)
    assert set(onto.pool_tier) == set(gen.TIER_MIX)
    assert all(v.count(" ") <= 1 for v in onto.vocabulary)
    docs = gen.documents_table(1, 400, onto.pool)
    assert docs.exact_dups > 0 and docs.near_dups > 0
