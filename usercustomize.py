"""Repo-root usercustomize: the startup hook of every Python process
that runs this package's code. It has two jobs.

1. **StateMessage codec.** Substitute the pure-Python codec
   (terasort_spark/streaming/state_message_shim.py) for PySpark's
   generated ``StateMessage_pb2`` when google-protobuf is not installed,
   so transformWithStateInPandas works. A real protobuf install always
   wins: the finder is registered only when ``google.protobuf`` is
   absent, and it matches exactly one module name.
2. **Lazy zipimport directories.** PySpark's worker calls
   ``importlib.invalidate_caches()`` once per task, and on CPython
   3.10-3.12 ``zipimporter.invalidate_caches()`` eagerly re-reads the
   archive's whole central directory, once per zipimporter. A worker
   holds about 20 of them on ``pyspark.zip`` (1,328 entries) and
   ``spark-core.jar`` (5,359 entries), so every task re-parsed about
   37k entries: ~0.3 s of CPU per task, whatever its size.
   :func:`install_lazy_zip_directories` backports CPython 3.13's lazy
   cache (gh-103200): invalidation drops the archive's cached
   directory, and the next lookup re-reads it once per archive.

Loaded automatically by ``site`` in every Python process whose startup
sys.path contains this directory. ``session.get_spark`` exports the repo
root on PYTHONPATH before the JVM starts, and ``session.configure`` puts
it first on the session's worker PYTHONPATH, so Arrow workers and the
driver-side transformWithState init runner load it even when another
program built the session.

Coverage notes:
- ``site`` only imports *usercustomize* when user-site is enabled; a
  venv (ENABLE_USER_SITE=False) or ``python -s`` skips it. The sibling
  repo-root ``sitecustomize.py`` (imported by ``site`` unconditionally
  unless -S) chain-loads this file so both jobs still run there.
- Driver-side code never relies on the import side effect alone:
  ``operators.streaming.ensure_state_codec`` calls :func:`install` explicitly.
- Because this file shadows any user-site ``usercustomize.py`` for
  processes whose PYTHONPATH leads with the repo root, it chain-loads
  the NEXT usercustomize found later on sys.path, so user hooks keep
  working.
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


def install_lazy_zip_directories() -> bool:
    """Make ``zipimporter.invalidate_caches()`` lazy, as CPython 3.13
    does: it drops the archive's cached directory, and the next lookup
    through any zipimporter on that archive re-reads it once. An archive
    that changed on disk is still seen after invalidation, and
    ``zipimport._zip_directory_cache[archive]`` still answers (3.11's
    ``pkgutil.iter_zipimport_modules`` indexes it directly): a missing
    entry is read on first lookup. Returns True when the lazy cache is
    active. Idempotent; a no-op where zipimport is already lazy (3.13+)
    or has no ``invalidate_caches`` (before 3.10)."""
    import zipimport

    zi = zipimport.zipimporter
    if isinstance(vars(zi).get("_files"), property):
        return True
    if hasattr(zi, "_get_files") or not hasattr(zi, "invalidate_caches"):
        return False

    class _LazyDirectoryCache(dict):
        def __missing__(self, archive):
            files = self[archive] = zipimport._read_directory(archive)
            return files

    def _files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except zipimport.ZipImportError:
            return {}  # the archive is gone or broken, as 3.13 answers

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    zipimport._zip_directory_cache = _LazyDirectoryCache(
        zipimport._zip_directory_cache
    )
    # The cache is the one copy of each directory. ``__init__`` assigns
    # ``self._files`` the dict it has just cached, so the setter drops it.
    zi._files = property(_files, lambda self, files: None)
    zi.invalidate_caches = invalidate_caches
    return True


install()
install_lazy_zip_directories()
_chain_shadowed_usercustomize()
