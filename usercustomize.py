"""Repo-root usercustomize: transparently substitute the pure-Python
StateMessage codec (terasort_spark/streaming/state_message_shim.py) for
PySpark's generated ``StateMessage_pb2`` when google-protobuf is not
installed, so transformWithStateInPandas works in this container.

Loaded automatically by ``site`` in EVERY Python process whose startup
sys.path contains this directory (set PYTHONPATH=/root/repo — the
session factory exports it so Arrow workers and the driver-side init
runner inherit it). A real protobuf install always wins: the finder is
registered only when ``google.protobuf`` is absent, and it matches
exactly one module name, so nothing else is affected.

Coverage notes (r11 ADVICE):
- ``site`` only imports *usercustomize* when user-site is enabled; a
  venv (ENABLE_USER_SITE=False) or ``python -s`` skips it. The sibling
  repo-root ``sitecustomize.py`` (imported by ``site`` unconditionally
  unless -S) chains to :func:`install` so the shim still loads there.
- Driver-side code never relies on the import side effect alone:
  ``operators.streaming.ensure_state_codec`` calls :func:`install` explicitly.
- Because this file shadows any user-site ``usercustomize.py`` for
  processes whose PYTHONPATH leads with the repo root, :func:`install`
  chain-loads the NEXT usercustomize found later on sys.path, so user
  hooks keep working.
"""

import importlib.abc
import importlib.machinery
import importlib.util
import os
import sys

_TARGET = "pyspark.sql.streaming.proto.StateMessage_pb2"
_REPO = os.path.dirname(os.path.abspath(__file__))


class _StateMessageShimFinder(importlib.abc.MetaPathFinder):
    def find_spec(self, fullname, path=None, target=None):
        if fullname != _TARGET:
            return None
        shim = os.path.join(
            _REPO, "terasort_spark", "streaming", "state_message_shim.py"
        )
        if not os.path.isfile(shim):
            return None
        return importlib.util.spec_from_file_location(fullname, shim)


def _have_real_protobuf() -> bool:
    # NOTE: "google" (and even "google.protobuf") can resolve as an
    # EMPTY NAMESPACE package — Spark puts spark-core.jar on the worker
    # PYTHONPATH and the jar's internal google/ resource directory
    # surfaces as a namespace portion. Only the presence of the actual
    # runtime module proves a usable protobuf install.
    try:
        return importlib.util.find_spec("google.protobuf.descriptor") is not None
    except Exception:
        return False


def _chain_shadowed_usercustomize() -> None:
    """Load the next ``usercustomize.py`` on sys.path (if any) so this
    repo hook does not silently disable a user's own startup hook."""
    for entry in sys.path:
        try:
            cand = os.path.join(os.path.abspath(entry or "."), "usercustomize.py")
        except Exception:
            continue
        if os.path.abspath(entry or ".") == _REPO or not os.path.isfile(cand):
            continue
        try:
            spec = importlib.util.spec_from_file_location(
                "_shadowed_usercustomize", cand
            )
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
        except Exception:
            pass  # a broken user hook must not take the interpreter down
        return


def install() -> bool:
    """Idempotently register the shim finder. Returns True when the
    finder is active (i.e. no real protobuf install was found)."""
    if _have_real_protobuf():
        return False
    if not any(isinstance(f, _StateMessageShimFinder) for f in sys.meta_path):
        sys.meta_path.insert(0, _StateMessageShimFinder())
    return True


install()
_chain_shadowed_usercustomize()
