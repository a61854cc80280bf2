"""Load single reference modules as LIVE test oracles.

Full gensim cannot import in this container (no scipy), but several
reference model files depend only on a tiny, stable surface:
``interfaces.TransformationABC`` (subclassed, plus the no-op
``add_lifecycle_event``), ``utils.identity/is_corpus/deprecated``, and
``matutils.unitvec``'s gensim-sparse branch (matutils.py:772-791
published semantics). This helper installs exactly that stub package,
executes one reference file standalone, and restores sys.modules — so
tests compare the graft against the reference's OWN weighting code, not
a replica of it.
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys
import types

import pytest

REFERENCE_ROOT = "/root/reference/gensim"


def requires_reference(*relpaths: str):
    """Skip mark for a test that reads ``{REFERENCE_ROOT}/{relpath}``: the
    reference tree is not part of this repo, so the test runs only where it
    is checked out and names the missing files otherwise."""
    missing = [f"{REFERENCE_ROOT}/{p}" for p in relpaths
               if not os.path.exists(f"{REFERENCE_ROOT}/{p}")]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference file absent: {', '.join(missing)}")


def _stub_unitvec(vec, norm="l2", return_norm=False):
    """matutils.unitvec, gensim-sparse (id, val) branch only."""
    vec = list(vec)
    if not vec:
        return (vec, 1.0) if return_norm else vec
    if norm == "l1":
        length = float(sum(abs(v) for _, v in vec))
    elif norm == "l2":
        length = math.sqrt(sum(v ** 2 for _, v in vec))
    elif norm == "unique":
        length = 1.0 * len(vec)
    else:
        raise ValueError(norm)
    assert length > 0.0, "sparse documents must not contain zero entries"
    out = [(t, float(v) / length) for t, v in vec] \
        if length != 1.0 else list(vec)
    return (out, length) if return_norm else out


def _stub_is_corpus(obj):
    lst = list(obj)
    if not lst:
        return True, lst
    first = lst[0]
    if isinstance(first, (list, tuple)) and first \
            and isinstance(first[0], (list, tuple)):
        return True, lst
    return False, lst


class _SaveLoad:
    """utils.SaveLoad stand-in — persistence is exercised through the
    graft's own writers, never through the stub."""

    def save(self, *args, **kwargs):
        raise NotImplementedError("stub SaveLoad")

    @classmethod
    def load(cls, *args, **kwargs):
        raise NotImplementedError("stub SaveLoad")

    def add_lifecycle_event(self, *args, **kwargs):
        pass


def _stub_prune_vocab(vocab, min_reduce, trim_rule=None):
    """utils.prune_vocab (utils.py:1724-1755): drop count <= min_reduce,
    return the pruned mass."""
    result = 0
    for w in list(vocab):
        if vocab[w] <= min_reduce:
            result += vocab[w]
            del vocab[w]
    return result


def load_reference_module(relpath: str, name: str):
    """Execute ``{REFERENCE_ROOT}/{relpath}`` with the stub gensim package
    installed; returns the loaded module."""
    pkg = types.ModuleType("gensim")
    interfaces = types.ModuleType("gensim.interfaces")

    class TransformationABC:
        def add_lifecycle_event(self, *args, **kwargs):
            pass

    interfaces.TransformationABC = TransformationABC
    utils = types.ModuleType("gensim.utils")
    utils.identity = lambda x: x
    utils.is_corpus = _stub_is_corpus
    utils.deprecated = lambda _msg: (lambda fn: fn)
    utils.SaveLoad = _SaveLoad
    utils.prune_vocab = _stub_prune_vocab
    utils.revdict = lambda d: {v: k for k, v in dict(d).items()}
    utils.to_utf8 = lambda s, *a, **k: (
        s.encode("utf8") if isinstance(s, str) else bytes(s))
    utils.to_unicode = lambda s, *a, **k: (
        s.decode("utf8") if isinstance(s, bytes) else str(s))
    utils.any2unicode = utils.to_unicode
    from gensim_spark.sources.formats import copen as _copen
    utils.open = lambda fname, mode="rb", *a, **k: _copen(fname, mode)
    matutils = types.ModuleType("gensim.matutils")
    matutils.unitvec = _stub_unitvec
    pkg.interfaces, pkg.utils, pkg.matutils = interfaces, utils, matutils

    names = ("gensim", "gensim.interfaces", "gensim.utils",
             "gensim.matutils")
    saved = {k: sys.modules.get(k) for k in names}
    sys.modules.update({"gensim": pkg, "gensim.interfaces": interfaces,
                        "gensim.utils": utils,
                        "gensim.matutils": matutils})
    try:
        spec = importlib.util.spec_from_file_location(
            name, f"{REFERENCE_ROOT}/{relpath}")
        mod = importlib.util.module_from_spec(spec)
        # registered under its own name so pickle round-trips of module
        # functions (e.g. Phrases' scoring-fn pickleability check) resolve
        sys.modules[name] = mod
        spec.loader.exec_module(mod)
    finally:
        for k, v in saved.items():
            if v is None:
                sys.modules.pop(k, None)
            else:
                sys.modules[k] = v
    return mod
