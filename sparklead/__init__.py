"""sparklead — a from-scratch PySpark-native log/telemetry analytics engine.

Implements the query and data-processing capabilities of EvoTestOps/LogLead
(studied read-only at /root/reference) as an idiomatic Spark pipeline:

    sources -> enhancers -> mining -> sequence aggregates -> routing -> detectors

Everything is declarative DataFrame transformations so Catalyst/Tungsten pick
the physical plan; pandas/Arrow UDFs appear only where built-ins genuinely
cannot express the semantics (two-phase template mining) or where the
built-in form runs per token in interpreted higher-order-function lambdas:
the pipeline's token_vectors sink (sparse counts + SimHash) is one scalar
Arrow UDF over numpy, 1.5-5x faster than its HOF form.
"""

from sparklead.session import get_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
