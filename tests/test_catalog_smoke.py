"""Every catalog query must build and execute at sf0.001 — guards the
driver's correctness gate (a query that raises there records an error
for the whole round). Values are oracle-checked separately
(tools/check_oracle.py at sf0.01); this is the cheap existence gate.
"""

from __future__ import annotations

from pathlib import Path

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.slow
def test_every_catalog_query_runs(spark):
    if not Path(SF_DIR).exists():
        pytest.skip("driver testdata not present")
    from fte.queries import catalog

    failures = []
    for name, (fn, _sql) in catalog().items():
        try:
            df = fn(spark, SF_DIR)
            df.limit(5).collect()
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


def test_catalog_rejects_a_repeated_name():
    """Registering a name twice raises instead of silently replacing
    the earlier entry; the real table registers each name once."""
    from fte.queries import _register, catalog

    def q(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="'dup' is registered twice"):
        _register((("dup", q, None), ("other", q, None), ("dup", q, "SELECT 1")))
    catalog()
