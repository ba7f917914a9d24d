"""Runtime-dependency shims.

``google.protobuf`` is the one optional pyspark dependency the engine
needs at runtime (the transformWithStateInPandas state protocol —
``pyspark/sql/streaming/proto/StateMessage_pb2.py`` — speaks protobuf
from the Python worker; see streaming/tws.py's module docstring).
pyspark declares it only as an extra, and this container's interpreter
does not have it installed.  Publicly-distributed pure-Python copies of
the protobuf runtime DO ship inside other software commonly present on
hosts (the Google Cloud SDK bundles one under
``platform/google_appengine/google/protobuf`` — Apache-2.0-licensed
upstream protobuf, version 6.32 here).  :func:`ensure_protobuf` makes
``import google.protobuf`` work by aliasing exactly the ``google``
package of such a copy into ``sys.modules`` — nothing else from the
host directory leaks onto ``sys.path`` — and then verifies the ONE
thing that matters: pyspark's checked-in gencode actually loads.

Version-drift note: pyspark 4.1.2's StateMessage_pb2 was generated by
protoc 6.33 and its ``ValidateProtobufRuntimeVersion`` call refuses any
runtime older than the gencode, even a same-major 6.32.  Within a major
version protobuf's own cross-version guarantee makes the descriptor and
wire formats stable, so the shim relaxes the check to SAME-MAJOR-ONLY
(a 4.x or 5.x runtime still raises) and then proves the relaxation safe
by importing the gencode and round-tripping a message.  The TWS gate
row's DuckDB oracle re-verifies the full state protocol end-to-end on
every driver run, so a silent protocol break cannot hide behind this
shim.

Worker propagation: the shim must be active in every Python WORKER
before the first state-protocol call.  streaming/tws.py calls
:func:`ensure_protobuf` at module import, and the worker imports that
module while unpickling the StatefulProcessor (cloudpickle serializes
module-level classes by reference) — which happens strictly before the
worker's first ``StateMessage_pb2`` use (all of pyspark's pb2 imports
are function-local; verified against value_state_client.py and
transform_with_state_driver_worker.py, which reads the command —
triggering the unpickle — before constructing the state client).
"""

from __future__ import annotations

import os
import sys
import types

_PROBED: bool | None = None


def _candidate_google_dirs():
    """Directories that contain a ``google/protobuf`` pure-Python
    runtime, most-preferred first.  ``$SPARK_GRAFT_PROTOBUF_DIR`` (a
    path whose ``google/protobuf/__init__.py`` exists) overrides."""
    env = os.environ.get("SPARK_GRAFT_PROTOBUF_DIR")
    if env:
        yield env
    # Google Cloud SDK's bundled App Engine runtime (public, Apache-2.0
    # upstream protobuf).  Harmless to probe on hosts without the SDK.
    yield "/usr/lib/google-cloud-sdk/platform/google_appengine"


def _patch_lenient_validator() -> None:
    """Relax protobuf's gencode/runtime check to same-major-only."""
    from google.protobuf import runtime_version as rv

    if getattr(rv.ValidateProtobufRuntimeVersion, "_ddp_lenient", False):
        return
    orig = rv.ValidateProtobufRuntimeVersion

    def lenient(domain, major, minor, patch, suffix, location):  # noqa: ANN001
        try:
            orig(domain, major, minor, patch, suffix, location)
        except rv.VersionError:
            if major != rv.MAJOR:
                raise

    lenient._ddp_lenient = True
    rv.ValidateProtobufRuntimeVersion = lenient


def _gencode_loads() -> bool:
    """The real acceptance test: pyspark's TWS gencode imports and a
    message round-trips on whatever runtime is now importable."""
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

        req = sm.StateRequest()
        req.version = 2
        out = sm.StateRequest()
        out.ParseFromString(req.SerializeToString())
        return out.version == 2
    except Exception:
        return False


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable (idempotent, memoized).

    Returns True iff pyspark's StateMessage gencode verifiably loads —
    either on an already-installed protobuf or on an aliased on-disk
    copy.  On False the process is left exactly as found (no sys.modules
    or sys.path residue), so callers can gate registration on it.
    """
    global _PROBED
    if _PROBED is not None:
        return _PROBED

    try:
        import google.protobuf as _gp

        # A REAL install has __init__.py.  In a Spark worker started by
        # the stock daemon, `import google.protobuf` can succeed as an
        # empty NAMESPACE package instead: spark-core's jar sits on
        # that worker's sys.path and ships `google/protobuf/*.proto`
        # resources, which zipimport happily treats as a namespace
        # portion (no __file__, no Python in it).  Workers of the
        # engine's own sessions drop the jar (pyworker_daemon), but the
        # stock daemon still runs on a pyspark version mismatch and in
        # sessions the host built.  Only a file-backed package counts
        # as installed.
        if getattr(_gp, "__file__", None) is not None:
            orig_validator = None
            try:
                from google.protobuf import runtime_version as _rv

                orig_validator = _rv.ValidateProtobufRuntimeVersion
                _patch_lenient_validator()
            except Exception:
                _rv = None
            if _gencode_loads():
                _PROBED = True
                return True
            # An installed-but-incompatible runtime (e.g. a 5.x major)
            # must not defeat the shim: undo the validator patch so the
            # process is left as found, then fall through to the
            # candidate-dir loop, whose aliasing PREPENDS a compatible
            # copy ahead of the bad install.
            if _rv is not None and orig_validator is not None:
                try:
                    _rv.ValidateProtobufRuntimeVersion = orig_validator
                except Exception:
                    pass
    except ImportError:
        pass

    for base in _candidate_google_dirs():
        gdir = os.path.join(base, "google")
        if not os.path.isfile(os.path.join(gdir, "protobuf", "__init__.py")):
            continue
        # Alias ONLY the google package from this dir — the base dir
        # itself never touches sys.path, so sibling packages in (e.g.)
        # an SDK platform tree can't shadow real installs.  Any cached
        # namespace-portion modules are dropped first, and the dir is
        # PREPENDED to an existing `google` namespace __path__ so the
        # file-backed package beats jar resource portions.
        # Also drop any pyspark gencode cached by a failed installed-
        # runtime probe above — it holds descriptors from the OLD
        # runtime's pool and must re-execute against the aliased one.
        saved = {
            name: sys.modules.pop(name)
            for name in list(sys.modules)
            if name == "google.protobuf"
            or name.startswith("google.protobuf.")
            or name.startswith("pyspark.sql.streaming.proto")
        }
        created = "google" not in sys.modules
        g = sys.modules.get("google")
        if g is None:
            g = types.ModuleType("google")
            g.__path__ = []
            sys.modules["google"] = g
        prev_path = list(getattr(g, "__path__", []))
        g.__path__ = [gdir] + prev_path
        try:
            import google.protobuf  # noqa: F401
            from google.protobuf import runtime_version  # noqa: F401

            _patch_lenient_validator()
            if _gencode_loads():
                _PROBED = True
                return True
            raise ImportError("gencode failed to load on aliased runtime")
        except Exception:
            # Full rollback: drop everything the attempt imported and
            # restore whatever (namespace) modules were there before.
            for name in [
                m
                for m in list(sys.modules)
                if m.startswith("google.protobuf")
                or m.startswith("pyspark.sql.streaming.proto")
            ]:
                sys.modules.pop(name, None)
            if created:
                sys.modules.pop("google", None)
            else:
                g.__path__ = prev_path
            sys.modules.update(saved)
            continue

    _PROBED = False
    return False
