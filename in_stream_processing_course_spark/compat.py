"""Environment compatibility shims (optional-dependency fallbacks).

Only activates fallbacks when the real dependency is absent; a
pip-installed package always wins.
"""

from __future__ import annotations

import os
import sys
import tempfile

# transformWithStateInPandas (streaming/recent_items.py,
# streaming/rolling_median.py) speaks protobuf to the JVM. Where
# google.protobuf isn't pip-installed, some hosts carry
# a pure-Python protobuf inside the (public) Google Cloud SDK's App
# Engine bundle; expose JUST its google/protobuf subtree through a shim
# dir (never the whole bundle — it carries appengine/auth/oauth2
# packages that could shadow real ones) and extend PYTHONPATH so
# Spark's Python workers inherit it. Must run before the JVM starts.
_PROTOBUF_BUNDLE = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf"
)


def ensure_protobuf_fallback() -> bool:
    """Make ``google.protobuf`` importable if at all possible.

    Returns True when the import works (directly or via the fallback),
    False when the host has neither — callers gate transformWithState
    features on it.
    """
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    if not os.path.isdir(_PROTOBUF_BUNDLE):
        return False
    shim = os.path.join(tempfile.gettempdir(), "isp_protobuf_shim")
    gdir = os.path.join(shim, "google")
    os.makedirs(gdir, exist_ok=True)
    init = os.path.join(gdir, "__init__.py")
    if not os.path.exists(init):
        # write-then-rename so a concurrent setup never observes a
        # half-written module file
        tmp = f"{init}.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(
                "__path__ = __import__('pkgutil')"
                ".extend_path(__path__, __name__)\n"
            )
        os.replace(tmp, init)
    link = os.path.join(gdir, "protobuf")
    if not os.path.lexists(link):
        try:
            os.symlink(_PROTOBUF_BUNDLE, link)
        except FileExistsError:
            # concurrent process won the lexists/symlink race; the link
            # it created points at the same bundle
            pass
    sys.path.insert(0, shim)
    os.environ["PYTHONPATH"] = (
        shim + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return False
    # the bundle is a '-dev' runtime build; protobuf's version check
    # rejects any gencode whose suffix differs from the runtime's, so
    # pyspark's generated StateMessage_pb2 (a release gencode) would
    # fail on suffix alone. The official escape hatch is this env var.
    # Set it only once the fallback import has actually succeeded via
    # the shim: a host where the shim doesn't resolve keeps the real
    # version check, and a pip-installed protobuf returns before this
    # point — the relaxation never masks a genuine gencode/runtime
    # mismatch outside the bundle branch. (The check itself fires at
    # *_pb2 import time, after this.)
    os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
    return True
