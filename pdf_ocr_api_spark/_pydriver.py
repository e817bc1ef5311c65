"""Driver-side PySpark API overhead: turn off per-call debug-origin capture.

PySpark 4 wraps every DataFrame/Column API function with an error-context
decorator (``pyspark.errors.utils._with_origin``) that, per call, walks
the Python stack, probes for IPython (an ``import`` attempt each call),
reads a SQL conf over py4j, and sets/clears a JVM thread-local
(``PySparkCurrentOrigin``) — about four extra py4j round trips per API
call.  The only thing this buys is a "DataFrame context" call-site line
in error messages.  On expression-heavy plans the cost is real driver
wall-clock: building this repo's conversation query issues ~5,900 py4j
commands, and the wrapper accounts for half of them — measured 1.0 s →
0.51 s for one ``conversation_records`` construction on the bench box
(OPTIMIZATION_r06.md), identical schema and results.  The cost is
scale-INDEPENDENT driver overhead (guide §4's boundary tax, driver
side): a 100 TB job pays exactly the same seconds per query built.

The supported switch is the STATIC conf
``spark.python.sql.dataFrameDebugging.enabled=false`` — static means it
must be set when the session is built, which a library that receives an
already-built session cannot do.  The gate, however, is enforced purely
on the Python side: ``pyspark.errors.utils.is_debugging_enabled()``
reads the conf ONCE into the module global ``_enable_debugging_cache``
and every decorated call consults only that cached bool (the JVM never
reads the conf; ``PySparkCurrentOrigin`` is only ever set by this same
Python wrapper).  Pre-setting the cached bool is therefore exactly
equivalent to having built the session with the conf off.

``disable_dataframe_debug_origin()`` does that, guarded:

* opt-out: set ``PDF_OCR_SPARK_DF_DEBUGGING=1`` to keep PySpark's
  default error-context behavior (e.g. while debugging a failing job);
* an explicit user ``true`` wins: when the active session (or context)
  has the conf set to true, the gate is left on.  At package import no
  session usually exists yet, so ``runner.build_session`` calls the
  switch again once its session is up;
* applies only on the PySpark versions it was verified on
  (``VERIFIED_PYSPARK``: the gate internals were read on 4.1.2) and
  only when the private global exists with its expected type (any
  other version → silent no-op, the wrapper then just keeps its
  default behavior);
* only reads the active session's conf, never changes a session, and
  never raises — safe to run at package
  import, including inside executor Python workers (where the
  DataFrame API is never called and the flag is inert).

Computed results are unaffected by construction: the wrapper only
decorates error METADATA on failures.  Asserted equivalent in
``tests/test_pydriver.py`` (same schema + rows with the gate forced on
vs off).
"""

from __future__ import annotations

import os

__all__ = ["disable_dataframe_debug_origin"]

#: ``[low, high)`` PySpark release range the gate internals were
#: verified on (``_enable_debugging_cache`` read once, Python-side only)
VERIFIED_PYSPARK = ((4, 1), (4, 2))

_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def _pyspark_verified() -> bool:
    import pyspark

    try:
        ver = tuple(int(x) for x in pyspark.__version__.split(".")[:2])
    except ValueError:  # pragma: no cover - unparseable version string
        return False
    return VERIFIED_PYSPARK[0] <= ver < VERIFIED_PYSPARK[1]


def _user_enabled() -> bool:
    """True when the active session, or failing that the active context,
    has the debugging conf explicitly set to true (unset → False)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            val = spark.conf.get(_CONF, None)
        elif SparkContext._active_spark_context is not None:
            val = SparkContext._active_spark_context.getConf().get(_CONF)
        else:
            return False
    except Exception:  # pragma: no cover - a stopped session/JVM reads as unset
        return False
    return str(val).strip().lower() == "true"


def disable_dataframe_debug_origin() -> bool:
    """Disable PySpark's per-call debug-origin capture for this process.

    Returns True when the gate was switched off (or already off),
    False when opted out, when the user explicitly enabled the conf
    (the gate is then set on), or when the PySpark version or internals
    don't match.
    """
    if os.environ.get("PDF_OCR_SPARK_DF_DEBUGGING", "") == "1":
        return False
    try:
        import pyspark.errors.utils as _eu
    except Exception:  # pragma: no cover - pyspark always present in repo use
        return False
    if not _pyspark_verified():
        return False
    if not hasattr(_eu, "_enable_debugging_cache"):  # pragma: no cover
        return False  # internals moved on this PySpark version: no-op
    cur = _eu._enable_debugging_cache
    if cur is not None and not isinstance(cur, bool):  # pragma: no cover
        return False
    if _user_enabled():
        _eu._enable_debugging_cache = True
        return False
    _eu._enable_debugging_cache = False
    return True
