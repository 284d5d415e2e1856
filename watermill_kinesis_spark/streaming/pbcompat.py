"""``google.protobuf`` discovery for ``transformWithStateInPandas``.

Spark 4's transformWithState talks to its state server over a
protobuf protocol, so the Python worker must import
``google.protobuf`` — a runtime the engine cannot assume is
pip-installed everywhere it runs. This module makes the import work
wherever a protobuf runtime exists at all:

1. an installed ``google.protobuf`` package wins;
2. otherwise well-known VENDORED pure-python copies are probed — the
   Google Cloud SDK ships one (Apache-2.0 licensed, a standard
   component on GCP images and CI hosts) under
   ``platform/google_appengine``;
3. the gencode-vs-runtime version gate is relaxed ONE notch: pyspark's
   ``StateMessage_pb2`` stubs are generated by a protoc that may be a
   minor version ahead of the available runtime (6.33 gencode vs a
   6.32 runtime here). Protobuf's wire format is stable within a
   major version, so a same-major minor skew is accepted; a MAJOR
   mismatch still raises.

``ensure_protobuf()`` is idempotent and runs at import time of
:mod:`watermill_kinesis_spark.streaming.stateful`, so unpickling a
StatefulProcessor inside a Spark worker installs the path/validator
before pyspark's state-server client imports its generated stubs.
"""

from __future__ import annotations

import os
import sys

#: standard install roots of the Google Cloud SDK's vendored
#: pure-python protobuf (probed only when no installed runtime exists)
VENDORED_ROOTS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
    "/usr/lib64/google-cloud-sdk/platform/google_appengine",
    "/opt/google-cloud-sdk/platform/google_appengine",
    os.path.expanduser("~/google-cloud-sdk/platform/google_appengine"),
)

_relaxed = False
_zip_cache: str | None = None


def ensure_protobuf_on_workers(spark) -> bool:
    """Make ``google.protobuf`` importable in EVERY python worker of
    the session — including transformWithState's schema-validation
    "driver worker", a fresh process the JVM spawns at PLANNING time
    that imports the generated stubs before any engine module loads
    (so the in-process path/validator fix of :func:`ensure_protobuf`
    cannot reach it). With an installed runtime, workers share the
    interpreter's site-packages and nothing is needed; with only a
    vendored runtime, the tree is packaged ONCE per session into a
    zip — ``runtime_version`` replaced by a same-major-lenient
    validator baked at build time — and shipped via ``addPyFile``,
    the standard mechanism that lands on every worker's sys.path."""
    global _zip_cache
    if not ensure_protobuf():
        return False
    import google.protobuf as gp

    src = os.path.dirname(gp.__file__ or "")
    if not any(src.startswith(r) for r in VENDORED_ROOTS):
        return True  # real installed runtime: workers see it natively
    sc = spark.sparkContext
    # dedup marker lives ON the context object (an id()-keyed set
    # could collide after a stopped context is garbage-collected and
    # its address reused)
    if getattr(sc, "_wk_pb_shipped", False):
        return True
    if _zip_cache is None or not os.path.exists(_zip_cache):
        _zip_cache = _build_vendor_zip(src, getattr(gp, "__version__", "0.0.0"))
    # two delivery channels, because Spark has two worker launch paths:
    # - addPyFile → python includes → ordinary task workers
    # - sc.environment["PYTHONPATH"] → the PythonFunction envVars that
    #   StreamingPythonRunner merges into the env of the
    #   transformWithState schema-validation "driver worker", which
    #   does NOT process python includes
    sc.addPyFile(_zip_cache)
    prior = sc.environment.get("PYTHONPATH", "")
    if _zip_cache not in prior.split(os.pathsep):
        sc.environment["PYTHONPATH"] = (
            _zip_cache + ((os.pathsep + prior) if prior else "")
        )
    sc._wk_pb_shipped = True
    return True


def _build_vendor_zip(src: str, version: str) -> str:
    """Zip the vendored ``google/protobuf`` tree as a regular package
    (explicit ``google/__init__.py`` — zipimport does not resolve the
    SDK's implicit namespace package) with the lenient validator.
    The zip's directory is removed when the driver interpreter exits:
    workers import from it for as long as the session lives."""
    import atexit
    import shutil
    import tempfile
    import zipfile

    major = int(version.split(".")[0] or 0)
    tmp = tempfile.mkdtemp(prefix="wk_pbvendor_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    out = os.path.join(tmp, "pbvendor.zip")
    lenient = (
        '"""Same-major-lenient protobuf gencode/runtime gate (engine-'
        'vendored): wire format is stable within a major version, so '
        "gencode one minor ahead of this runtime is accepted; a major "
        'mismatch still fails."""\n'
        f"MAJOR = {major}\n"
        "class VersionError(Exception):\n    pass\n"
        "class Domain:\n    GOOGLE_INTERNAL = 1\n    PUBLIC = 2\n"
        "def ValidateProtobufRuntimeVersion(domain, major, minor, patch,"
        " suffix, location):\n"
        "    if major != MAJOR:\n"
        "        raise VersionError(\n"
        "            f'gencode major {major} vs runtime major {MAJOR}'\n"
        "            f' for {location}')\n"
    )
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("google/__init__.py", "")
        for root, dirs, files in os.walk(src):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fn in files:
                if not fn.endswith((".py", ".txt")):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, src)
                arc = os.path.join("google/protobuf", rel)
                if rel == "runtime_version.py":
                    z.writestr(arc, lenient)
                else:
                    with open(full, "rb") as f:
                        z.writestr(arc, f.read())
    return out


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable; returns False when no
    runtime exists anywhere (callers gate their feature off)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        root = next(
            (
                r
                for r in VENDORED_ROOTS
                if os.path.isdir(os.path.join(r, "google", "protobuf"))
            ),
            None,
        )
        if root is None:
            return False
        if root not in sys.path:
            sys.path.append(root)
        # drop only protobuf stubs left by the failed import above —
        # an already-imported google namespace package recomputes its
        # path dynamically, and unrelated siblings (google.auth, ...)
        # must keep their module identity
        for mod in [
            m
            for m in sys.modules
            if m == "google.protobuf" or m.startswith("google.protobuf.")
        ]:
            del sys.modules[mod]
        try:
            import google.protobuf  # noqa: F401
        except ImportError:
            return False
    _relax_minor_version_gate()
    return True


def _relax_minor_version_gate() -> None:
    """Accept gencode a minor version ahead of the runtime (stable
    wire format within a major); keep the major-version check."""
    global _relaxed
    if _relaxed:
        return
    try:
        from google.protobuf import runtime_version as rv
    except ImportError:
        # pre-5.27 runtimes have no validator module: gencode that
        # wants one gets a no-op shim (those runtimes predate the
        # check entirely)
        import types

        import google.protobuf as gp

        rv = types.ModuleType("google.protobuf.runtime_version")
        rv.Domain = type("Domain", (), {"PUBLIC": 1, "GOOGLE_INTERNAL": 2})
        rv.ValidateProtobufRuntimeVersion = lambda *a, **k: None
        sys.modules["google.protobuf.runtime_version"] = rv
        gp.runtime_version = rv
        _relaxed = True
        return
    orig = rv.ValidateProtobufRuntimeVersion
    runtime_major = getattr(rv, "MAJOR", None)

    def _lenient(domain, major, minor, patch, suffix, location):
        try:
            orig(domain, major, minor, patch, suffix, location)
        except Exception:
            if runtime_major is not None and major != runtime_major:
                raise  # major skew: wire/API guarantees end here
            # same-major minor skew (e.g. 6.33 gencode on 6.32
            # runtime): accept

    rv.ValidateProtobufRuntimeVersion = _lenient
    _relaxed = True
