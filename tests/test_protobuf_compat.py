"""protobuf bootstrap (protobuf_compat): path probe, namespace-phantom
detection, and version-check relaxation."""

from __future__ import annotations

import warnings

import pytest


def test_ensure_protobuf_finds_a_runtime():
    # in this container the runtime resolves via the fallback path probe;
    # on a provisioned cluster it's the installed package — either way the
    # tws prerequisite must hold and report availability truthfully
    from lvm_datapipe_spark.protobuf_compat import ensure_protobuf

    assert ensure_protobuf() is True
    from google.protobuf import descriptor  # noqa: F401 — real module, not phantom


def test_namespace_phantom_is_not_counted_as_protobuf():
    # spark-core.jar on a worker's sys.path exposes google/protobuf/*.proto
    # as a PEP 420 namespace portion; find_spec succeeds but origin is None.
    # The probe must treat that as "protobuf absent" or workers crash with
    # "cannot import name 'descriptor' ... (unknown location)".
    import importlib.util

    spec = importlib.util.find_spec("google.protobuf")
    assert spec is not None and spec.origin is not None  # post-bootstrap: real


def test_version_relaxation_same_major_passes_cross_major_raises():
    from lvm_datapipe_spark.protobuf_compat import ensure_protobuf

    assert ensure_protobuf()
    from google.protobuf import runtime_version as rv

    # same-major newer-minor gencode (the pyspark 6.33-on-6.32 case): warns
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        rv.ValidateProtobufRuntimeVersion(
            rv.DOMAIN, rv.MAJOR, rv.MINOR + 1, 0, "", "probe.proto"
        )
    assert any("same-major" in str(x.message) for x in w)
    # cross-major skew must still hard-fail
    with pytest.raises(rv.VersionError):
        rv.ValidateProtobufRuntimeVersion(
            rv.DOMAIN, rv.MAJOR + 1, 0, 0, "", "probe.proto"
        )
