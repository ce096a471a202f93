"""Tests of the benchmark itself: ``python3 -m pytest qabench/tests -q``."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
