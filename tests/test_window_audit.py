"""Window-cliff tags, checked per property.

Each global ``Window.orderBy`` and low-cardinality
``partitionBy(...).orderBy`` site under ``cds_etl_spark/`` carries a
``# window: <CLASS> <note>`` tag (convention and classes:
``tests/test_site_tags.py``). ``test_every_site_is_tagged`` there gates
all sites at once; these tests report each fault kind on its own. The
tags replaced a golden allowlist file, whose test names are kept.
"""

from __future__ import annotations

from tests.test_site_tags import WINDOW_CLASSES, tree_sites


def _sites() -> list[tuple[str, str, tuple[str, str] | None]]:
    return [(at, line, tag) for kind, at, line, tag in tree_sites() if kind == "window"]


def test_every_window_site_is_classified():
    sites = _sites()
    assert sites
    untagged = [f"{at}: {line}" for at, line, tag in sites if tag is None]
    assert not untagged, (
        "Window-cliff candidate site(s) without a `# window: <CLASS> <note>` "
        "tag (REJECT needs a BASELINE.md measurement):\n" + "\n".join(untagged)
    )


def test_golden_classes_are_valid():
    bad = {
        at: tag[0]
        for at, _l, tag in _sites()
        if tag and tag[0] not in WINDOW_CLASSES
    }
    assert not bad, f"unknown classification class(es): {bad}"


def test_golden_notes_nonempty():
    empty = [at for at, _l, tag in _sites() if tag and not tag[1].strip()]
    assert not empty, f"classification note required: {empty}"
    unmeasured = [
        at for at, _l, tag in _sites() if tag and tag[0] == "REJECT" and "measured" not in tag[1]
    ]
    assert not unmeasured, f"REJECT note must cite its measurement: {unmeasured}"
