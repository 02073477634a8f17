"""The input generator is a pure function of its seed."""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.etl import EtlParity  # noqa: E402
from perfbench.text import TextPipeline  # noqa: E402


def _digest(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(tmp_path, name, seed, copy=0):
    work = tmp_path / f"{name}-{seed}-{copy}"
    work.mkdir()
    (EtlParity if name == "etl" else TextPipeline)(str(work), seed)
    return _digest(str(work))


def test_same_seed_gives_identical_files(tmp_path):
    for name in ("etl", "text"):
        a = _inputs(tmp_path, name, 7)
        b = _inputs(tmp_path, name, 7, copy=1)
        assert a and a == b


def test_other_seed_gives_other_files(tmp_path):
    for name in ("etl", "text"):
        a = _inputs(tmp_path, name, 7)
        b = _inputs(tmp_path, name, 8)
        assert a.keys() == b.keys()
        assert all(a[k] != b[k] for k in a)


def test_corpus_has_planted_duplicates_and_a_wide_vocabulary():
    c = gen.make_corpus(3, 1000)
    words = {w for t in c.texts for w in t.split()}
    assert len(words) > 2000
    assert 0.05 < len(c.near_dups) / 1000 < 0.15
    assert all(c.texts[d] == c.texts[s] for d, s in c.exact_dups.items())
