"""Broadcast-hint tags, checked per property.

Each ``F.broadcast()`` site under ``cds_etl_spark/`` carries a
``# bcast: <CLASS> <bound>`` tag (convention and classes:
``tests/test_site_tags.py``). ``test_every_site_is_tagged`` there gates
all sites at once; these tests report class and note faults on their
own. The tags replaced a golden allowlist file, whose test names are
kept.
"""

from __future__ import annotations

from tests.test_site_tags import BCAST_CLASSES, tree_sites


def _tags() -> dict[str, tuple[str, str]]:
    return {at: tag for kind, at, _l, tag in tree_sites() if kind == "bcast" and tag}


def test_golden_classes_are_valid():
    tags = _tags()
    assert tags
    bad = {at: cls for at, (cls, _n) in tags.items() if cls not in BCAST_CLASSES}
    assert not bad, f"unknown classification class(es): {bad}"
    assert all(cls != "CORPUS" for cls, _ in tags.values())


def test_golden_notes_nonempty():
    empty = [at for at, (_c, note) in _tags().items() if not note.strip()]
    assert not empty, f"classification note required: {empty}"
