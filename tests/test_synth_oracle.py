"""Generator determinism + pandas-oracle == generation-log fixture."""

from __future__ import annotations

import pandas as pd

from kgpipe import oracle, rules, synth


def test_generator_deterministic():
    a = synth.generate(n_convs=40)
    b = synth.generate(n_convs=40)
    pd.testing.assert_frame_equal(a.transcripts, b.transcripts)
    pd.testing.assert_frame_equal(a.expected_triples, b.expected_triples)


def test_schema_shape(corpus):
    t = corpus.transcripts
    assert list(t.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert t["turn_idx"].dtype == "int32"
    # contiguous turn indexes per conversation
    g = t.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")["turn_idx"]
    assert (g.min() == 0).all()
    assert (g.max() + 1 == g.count()).all()


def test_oracle_matches_generation_log(corpus):
    out = oracle.run_pipeline(corpus.transcripts, corpus.entity_dict)
    p, r = oracle.precision_recall(out, corpus.expected_triples)
    assert p == 1.0 and r == 1.0


def test_oracle_clustering_matches_expected_components(corpus):
    comp = rules.cluster_surfaces(list(corpus.expected_components.node))
    m = comp.merge(corpus.expected_components, on="node", suffixes=("_got", "_exp"))
    assert len(m) == len(corpus.expected_components)
    assert (m.component_got == m.component_exp).all()
