"""Session sizing: the local core count read from a master string."""

from __future__ import annotations

import os

import pytest

from gemproc2caom2_spark.session import _parse_local_cores


@pytest.mark.parametrize(
    "master, cores",
    [
        ("local", 1),
        ("local[8]", 8),
        ("local[8,3]", 8),
        ("local[*]", 6),
        ("local[*,3]", 6),
        ("yarn", 4),
        ("spark://host:7077", 4),
    ],
)
def test_parse_local_cores(monkeypatch, master, cores):
    # a cpu count no default coincides with, so local[*] is told apart
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    assert _parse_local_cores(master) == cores
