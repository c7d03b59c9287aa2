"""Skip guard for tests whose oracle is the reference checkout's
testdata corpus: where the corpus is absent the test is skipped, with
the missing path as the reason, instead of failing on
FileNotFoundError. Where it exists, the test runs unchanged."""

from __future__ import annotations

import os

import pytest


def need(path: str) -> str:
    """`path`, or skip the calling test if it does not exist."""
    if not os.path.exists(path):
        pytest.skip(f"reference corpus absent: {path}")
    return path
