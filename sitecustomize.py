"""Repo-root sitecustomize: fallback loader for the repo-root
usercustomize hook (StateMessage codec shim, lazy zipimport directories)
in interpreters where ``site`` never imports usercustomize (venvs with
ENABLE_USER_SITE=False, ``python -s``). ``site`` imports
*sitecustomize* unconditionally (unless -S), so a worker whose
PYTHONPATH leads with the repo root always gets the hook either way.

Chains to the next sitecustomize on sys.path so a distro/user hook this
file shadows still runs.
"""

import importlib.util
import os
import sys

_REPO = os.path.dirname(os.path.abspath(__file__))


def _load_repo_usercustomize() -> None:
    if "usercustomize" in sys.modules:
        # site (or a prior hook) already ran it; install() is idempotent.
        sys.modules["usercustomize"].install()
        return
    path = os.path.join(_REPO, "usercustomize.py")
    if not os.path.isfile(path):
        return
    spec = importlib.util.spec_from_file_location("usercustomize", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["usercustomize"] = mod
    spec.loader.exec_module(mod)


def _chain_shadowed_sitecustomize() -> None:
    for entry in sys.path:
        try:
            cand = os.path.join(os.path.abspath(entry or "."), "sitecustomize.py")
        except Exception:
            continue
        if os.path.abspath(entry or ".") == _REPO or not os.path.isfile(cand):
            continue
        try:
            spec = importlib.util.spec_from_file_location(
                "_shadowed_sitecustomize", cand
            )
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
        except Exception:
            pass
        return


try:
    _load_repo_usercustomize()
except Exception:
    pass
_chain_shadowed_sitecustomize()
