"""Sandbox bridge for the transformWithState protobuf dependency.

Spark 4.x's transformWithState talks to the JVM state server
over a protobuf-framed protocol; the Python side
(``pyspark.sql.streaming.proto.StateMessage_pb2``) needs the
``google.protobuf`` runtime, which this environment does not ship as a
site-package. The Google Cloud SDK present in the image, however,
carries a complete PURE-PYTHON protobuf runtime under its own rewritten
namespace (``cloudsdk.google.protobuf`` — protobuf 4.23.2, BSD
licensed). This module aliases that runtime into the ``google.protobuf``
namespace the Spark gencode imports, WITHOUT copying any code into this
repo:

- a facade package module whose ``__getattr__`` lazily imports the
  ``cloudsdk.google.protobuf`` counterpart and registers it under the
  ``google.protobuf.*`` name (a plain module alias breaks from-imports:
  submodule resolution would concatenate onto the aliased module's
  ``cloudsdk...`` ``__name__``);
- a synthesized ``google.protobuf.runtime_version`` (the 4.23 runtime
  predates it; the 6.x gencode only calls
  ``ValidateProtobufRuntimeVersion``, which a cross-version bridge must
  by definition not enforce);
- ``google.protobuf.internal`` pre-registered (the gencode imports
  ``from google.protobuf.internal import builder`` as a real submodule
  import, which bypasses parent-attribute lookup).

Verified: the 6.33-generated StateMessage gencode builds its descriptor
pool and round-trips nested/oneof messages on this runtime (proto3
serialized descriptors carry no editions fields, so the 4.23 descriptor
parser accepts them).

The bridge installs at import of :mod:`graphdbetl_spark.streaming.
stateful`, which is exactly the module a pickled StatefulProcessor pulls
into the Python WORKER during deserialization — read_single_udf runs
before StatefulProcessorApiClient is constructed and every
StateMessage_pb2 import in the client is method-local, so the worker
side is bridged before the first protobuf use. It is a strict no-op
wherever a real ``google.protobuf`` is installed.
"""

from __future__ import annotations

import enum
import importlib
import importlib.util
import os
import sys
import types

_VENDOR_ROOTS = (
    # cloud-sdk third_party dir containing cloudsdk/google/protobuf
    "/usr/lib/google-cloud-sdk/lib/third_party",
)
_TARGET = "cloudsdk.google.protobuf"


class _Facade(types.ModuleType):
    """Package-module facade lazily aliasing a rewritten-namespace
    package's submodules under this module's own name."""

    def __init__(self, name: str, target: str):
        super().__init__(name)
        self._target = target
        self.__path__: list[str] = []
        self.__package__ = name

    def __getattr__(self, attr: str):
        if attr.startswith("__") or attr == "_target":
            raise AttributeError(attr)
        full = f"{self.__name__}.{attr}"
        if full == "google.protobuf.runtime_version":
            mod: types.ModuleType = types.ModuleType(full)

            class Domain(enum.Enum):
                GOOGLE_INTERNAL = 1
                PUBLIC = 2

            mod.Domain = Domain  # type: ignore[attr-defined]
            mod.ValidateProtobufRuntimeVersion = (  # type: ignore[attr-defined]
                lambda *a, **k: None
            )
        else:
            try:
                real = importlib.import_module(f"{self._target}.{attr}")
            except ImportError as exc:
                raise AttributeError(attr) from exc
            if hasattr(real, "__path__"):  # subpackage → nested facade
                mod = _Facade(full, f"{self._target}.{attr}")
            else:
                mod = real
        sys.modules[full] = mod
        setattr(self, attr, mod)
        return mod


def install_protobuf_bridge() -> bool:
    """Make ``google.protobuf`` importable; returns True when it is.

    No-op when a real runtime is installed. Otherwise wires the
    facade over the sandbox's pure-python runtime; returns False when
    neither exists (callers keep their graceful-degradation arm).
    """
    if isinstance(sys.modules.get("google.protobuf"), _Facade):
        return True
    try:
        # Probe for the MODULE the gencode needs, not the package: an
        # empty ``google/protobuf`` NAMESPACE directory on some
        # sys.path entry (seen in the Spark worker environment) makes
        # find_spec("google.protobuf") succeed with "unknown location"
        # and no runtime behind it — that phantom must not
        # short-circuit the bridge.
        if importlib.util.find_spec("google.protobuf.descriptor") is not None:
            return True
    except (ImportError, ModuleNotFoundError):
        pass  # no 'google' namespace at all — the bridge's case
    root = next((r for r in _VENDOR_ROOTS if os.path.isdir(r)), None)
    if root is None:
        return False
    if root not in sys.path:
        sys.path.append(root)
    if importlib.util.find_spec(_TARGET) is None:
        return False
    google = sys.modules.get("google")
    if google is None:
        google = types.ModuleType("google")
        google.__path__ = []  # type: ignore[attr-defined]
        sys.modules["google"] = google
    pb = _Facade("google.protobuf", _TARGET)
    # Libraries commonly feature-detect via google.protobuf.__version__;
    # the facade's __getattr__ rejects dunders (the normal missing-attr
    # protocol), so expose the version as a real attribute (r9 ADVICE).
    # Read it from the vendored runtime itself so an upgraded vendor
    # reports its true version (r10 ADVICE); 4.23.2 — the cloud-sdk
    # runtime's known version — only as the fallback when the vendored
    # module doesn't carry one.
    try:
        _target_mod = importlib.import_module(_TARGET)
        pb.__version__ = getattr(_target_mod, "__version__", "4.23.2")
    except Exception:
        pb.__version__ = "4.23.2"
    google.protobuf = pb  # type: ignore[attr-defined]
    sys.modules["google.protobuf"] = pb
    # real submodule import in the gencode — must pre-exist
    sys.modules["google.protobuf.internal"] = pb.internal
    # The bridge mutates GLOBAL import state (sys.modules, sys.path);
    # log the install so the aliasing is visible in driver/worker logs
    # rather than a silent side effect of importing streaming.stateful.
    import logging

    logging.getLogger(__name__).info(
        "protobuf bridge installed: google.protobuf -> %s (runtime %s, "
        "sys.path += %s)",
        _TARGET,
        pb.__version__,
        root,
    )
    return True
