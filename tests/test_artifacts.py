"""The session-shared artifact store (`vector_search_spark.artifacts`):
one registry of builders, built once per (session, sf_dir), replaced when
another session asks, and skipped together with everything that calls a
skipped artifact."""

from __future__ import annotations

import pytest

from conftest import SF_SMOKE
from vector_search_spark import artifacts, registry  # noqa: F401  (registers builders)
from vector_search_spark.registry_dedup import _shared_shingles
from vector_search_spark.registry_ann import _shared_pq_index

SETUP_BUILDERS = {
    "_ps", "_shared_shingles", "_shared_signatures", "_shared_simhash_sigs",
    "_shared_lsh_candidates", "_shared_verified_pairs", "_shared_sym_edges",
    "_shared_components", "_shared_lpa_labels", "_shared_token_blocks",
    "_shared_ivf_index", "_shared_srp_index", "_shared_srpw_index",
    "_shared_pq_index", "_shared_sq_index", "_shared_doc_features",
    "_shared_bpe", "_shared_bigram_lm", "_shared_phrase_index",
    "_shared_ivfpq_coarse", "_shared_ivfpq_residual_index",
    "_shared_suffix", "_shared_sa_adjacent",
}


@pytest.fixture
def fresh_store(monkeypatch):
    store: dict = {}
    monkeypatch.setattr(artifacts, "_STORE", store)
    return store


def test_registry_holds_the_setup_builders():
    assert set(artifacts.BUILDERS) == SETUP_BUILDERS


def test_build_all_builds_dependencies_first(spark, fresh_store):
    times = artifacts.build_all(spark, SF_SMOKE)
    assert list(times) == list(artifacts.BUILDERS)
    # An artifact first built inside another builder's call would be
    # stored BEFORE that builder; store order == registration order means
    # no builder's time includes another builder's build.
    built = [name for name, _ in fresh_store if name in artifacts.BUILDERS]
    assert built == list(artifacts.BUILDERS)


def test_second_call_returns_the_stored_object(spark, fresh_store):
    assert _shared_shingles(spark, SF_SMOKE) is _shared_shingles(spark, SF_SMOKE)
    assert _shared_pq_index(spark, SF_SMOKE) is _shared_pq_index(spark, SF_SMOKE)


def test_new_session_replaces_and_unpersists(spark, fresh_store):
    old = _shared_pq_index(spark, SF_SMOKE)
    assert all(df.is_cached for df in old)
    other = spark.newSession()
    new = _shared_pq_index(other, SF_SMOKE)
    assert new is not old
    assert not any(df.is_cached for df in old)
    assert fresh_store[("_shared_pq_index", SF_SMOKE)][0] is other
    assert _shared_pq_index(other, SF_SMOKE) is new


def test_skipping_suffix_skips_its_consumer(spark, fresh_store):
    # every other builder is skipped too, only to keep the test cheap;
    # _shared_sa_adjacent is NOT in the skip set — it is skipped because
    # it calls _shared_suffix
    others = set(artifacts.BUILDERS) - {"_shared_suffix", "_shared_sa_adjacent"}
    times = artifacts.build_all(spark, SF_SMOKE, skip={"_shared_suffix"} | others)
    assert times == {}
    assert not fresh_store
    # the skip set does not outlive the call
    assert artifacts.build_all(spark, SF_SMOKE, skip=others).keys() == {
        "_shared_suffix", "_shared_sa_adjacent",
    }
