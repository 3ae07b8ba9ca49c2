"""Vendored minimal ``google.protobuf`` runtime (pure Python, original code).

WHY THIS EXISTS: Spark 4's native stateful-streaming API
``transformWithStateInPandas`` — the closest Spark surface to the
reference's typed state backend (reference:
arcon/arcon_state/src/backend/mod.rs:144-242) — talks to the JVM state
server over a protobuf wire protocol
(pyspark/sql/streaming/proto/StateMessage_pb2.py).  This container has
no ``google.protobuf`` wheel and pip is unavailable, so the runtime is
re-implemented here from the *public* protobuf wire-format and
descriptor specifications (https://protobuf.dev/programming-guides/encoding/
and the public descriptor.proto schema).  Nothing here is derived from
the protobuf source distribution; it implements exactly the subset the
generated ``*_pb2`` modules and PySpark's state clients use:

- ``descriptor_pool.Default().AddSerializedFile`` parsing a serialized
  ``FileDescriptorProto``
- ``internal.builder.BuildMessageAndEnumDescriptors`` /
  ``BuildTopDescriptorsAndMessages`` injecting message classes + enum
  constants into the generated module
- message classes with kwarg construction, scalar attribute get/set,
  oneof bookkeeping, ``SerializeToString`` / ``ParseFromString``,
  ``HasField`` / ``WhichOneof``, repeated scalar + repeated message
  fields (packed and unpacked decode)

The wire conformance tests live in tests/test_protoshim.py (golden
byte vectors pinned to the spec) and the end-to-end proof is
tests/test_tws.py: the Python worker round-trips every message kind
against Spark's JVM TransformWithStateInPandasStateServer, which parses
with the real Java protobuf runtime — any encoding divergence fails
loudly there.

``ensure_protobuf()`` is the bootstrap: if a real ``google.protobuf``
is importable (any normally-provisioned cluster) it is used untouched;
otherwise this package's ``google/`` directory is prepended to
``sys.path`` *and* ``$PYTHONPATH`` so both the driver and the forked
Python workers resolve it.
"""

from __future__ import annotations

import os
import sys
from collections.abc import MutableMapping

_SHIM_DIR = os.path.dirname(os.path.abspath(__file__))


def prepend_pythonpath(entry: str, env: MutableMapping[str, str] = os.environ) -> None:
    """Put `entry` first on `env`'s PYTHONPATH unless it is already on it."""
    existing = env.get("PYTHONPATH", "")
    parts = existing.split(os.pathsep) if existing else []
    if entry not in parts:
        env["PYTHONPATH"] = os.pathsep.join([entry, *parts])


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable, preferring a real install.

    Returns True if protobuf (real or shim) is importable afterwards.
    Must run before the Spark JVM launches so the PYTHONPATH reaches
    the python workers (they inherit the JVM env, which inherits ours).
    """
    try:
        import google.protobuf  # noqa: F401

        return True
    except Exception:
        pass
    if _SHIM_DIR not in sys.path:
        sys.path.insert(0, _SHIM_DIR)
    prepend_pythonpath(_SHIM_DIR)
    try:
        import google.protobuf  # noqa: F401

        return True
    except Exception:  # pragma: no cover - shim broken
        return False


def ensure_protobuf_on_session(spark) -> None:
    """Runtime attach for a session whose JVM launched WITHOUT the
    PYTHONPATH bootstrap (e.g. an external harness that built its own
    SparkSession and then calls our queries): python workers for
    functions created AFTER this call resolve google.protobuf anyway.

    Two belt-and-braces mechanisms, both effective post-JVM-launch:
    - ``sc.environment["PYTHONPATH"]`` — captured into every
      subsequently-created PythonFunction's envVars; worker daemons are
      keyed on those envVars, so a fresh daemon spawns with the shim
      on its path (this is also what the transformWithState driver
      worker's StreamingPythonRunner consults).
    - ``sc.addPyFile(zip)`` — ships the package as a zipimport entry
      prepended to worker sys.path.

    Idempotent per SparkContext; no-op when a real protobuf (or an
    earlier bootstrap) already covers the workers' path."""
    ensure_protobuf()
    import google.protobuf as _gp

    if not os.path.abspath(_gp.__file__ or "").startswith(_SHIM_DIR):
        # a real protobuf serves the driver — assume the cluster image
        # provides it to workers too; never shadow it with the shim
        return
    sc = spark.sparkContext
    if getattr(sc, "_arcon_protoshim_attached", False):
        return
    prepend_pythonpath(_SHIM_DIR, sc.environment)
    try:
        import tempfile
        import zipfile

        zip_path = os.path.join(
            tempfile.gettempdir(), f"arcon_protoshim_{os.getpid()}.zip"
        )
        if not os.path.exists(zip_path):
            with zipfile.ZipFile(zip_path, "w") as zf:
                pkg_root = os.path.join(_SHIM_DIR, "google")
                for dirpath, _dirs, files in os.walk(pkg_root):
                    for fn in files:
                        if fn.endswith(".py"):
                            full = os.path.join(dirpath, fn)
                            zf.write(full, os.path.relpath(full, _SHIM_DIR))
        sc.addPyFile(zip_path)
    except Exception:  # pragma: no cover - env path alone usually suffices
        pass
    sc._arcon_protoshim_attached = True
