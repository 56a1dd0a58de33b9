"""Self-hash pin for the rows-only LDA topic table (qm03).

This is a self-hash, not a DuckDB oracle: no SQL engine fits a seeded
MLlib LDA, so the hash is this engine's own output at sf0.01, recorded
once the vocabulary order became deterministic and confirmed equal in
fresh sessions at 2, 4 and 8 cores. A moved hash means the vectorizer,
the LDA fit or its seeding changed the rows; re-pin only with that
reason stated. The hash is the one the parity harness compares: sha256
of the normalized, sorted rows (``oracle_harness.normalize``).

qm04 and qm07 are not pinned: ``lda_sweep`` widens the bag of words to
defaultParallelism // (concurrent fits) partitions, and the online LDA
fit depends on the partition count, so their rows at 8 cores differ
from those at 2 and 4.
"""

from __future__ import annotations

import hashlib
import pathlib

import pytest

from ml_data_wrangler_spark.plans import registry
from tests.oracle_harness import normalize

# (rows, sha256) of qm03 at sf0.01
QM03_SELF_HASH = (
    25, "ca05dbf28ab45350f5ebf0bbc34f336b9a801ce475e9797343baa86a72e54f86"
)


def test_lda_topics_match_their_self_hash(spark, sf_dir):
    tier = pathlib.Path(sf_dir).with_name("sf0.01")
    if not tier.is_dir():
        pytest.skip(f"no sf0.01 tier beside {sf_dir}")
    df = registry.queries()["qm03_lda_topics"](spark, str(tier))
    rows = [tuple(r) for r in df.collect()]
    digest = hashlib.sha256(repr(normalize(df.columns, rows)).encode()).hexdigest()
    assert (len(rows), digest) == QM03_SELF_HASH
