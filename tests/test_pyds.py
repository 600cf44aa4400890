"""Python DataSource connectors (``httpwire``, ``avrowire``,
``warcwire``): each registers as a self-contained pickle, so the
streaming source runner can load it from any working directory."""

from __future__ import annotations

import os


def test_connector_pickles_are_self_contained(spark):
    """The streaming source runner is a driver-side Python process that
    sees neither addPyFile paths nor the driver's sys.path hacks — a
    by-reference pickle of a connector class dies there with
    ModuleNotFoundError whenever the external driver found this repo
    via sys.path insertion. Contract: after ``spool.register``, a
    cloudpickle of each connector class must unpickle in a subprocess
    that CANNOT import metricproxy_spark at all — which also proves the
    shared ``spool`` base classes travel by value."""
    import base64
    import subprocess
    import sys

    from pyspark import cloudpickle

    from metricproxy_spark.sources.avro import AvroContainerDataSource
    from metricproxy_spark.sources.httpwire import HttpWireDataSource
    from metricproxy_spark.sources.spool import register
    from metricproxy_spark.sources.warc import WarcDataSource

    for cls in (
        HttpWireDataSource,
        AvroContainerDataSource,
        WarcDataSource,
    ):
        register(spark, cls)
        blob = base64.b64encode(cloudpickle.dumps(cls)).decode()
        probe = (
            "import base64, sys\n"
            "sys.modules.pop('metricproxy_spark', None)\n"
            "from pyspark import cloudpickle\n"
            f"cls = cloudpickle.loads(base64.b64decode('{blob}'))\n"
            "assert 'metricproxy_spark' not in sys.modules, 'pickled by reference'\n"
            f"assert cls.__name__ == '{cls.__name__}'\n"
            "print('OK', cls.name())\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", probe],
            capture_output=True,
            text=True,
            cwd="/",
            env={"PATH": os.environ["PATH"], "HOME": os.environ.get("HOME", "/root")},
        )
        assert out.returncode == 0, (cls.__name__, out.stderr[-2000:])
        assert out.stdout.startswith("OK "), out.stdout
