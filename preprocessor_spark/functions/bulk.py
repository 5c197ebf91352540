"""Value lists to and from the JVM in a constant number of py4j calls.

PySpark moves a Python list across py4j one element per call: ``isin(*v)``
makes a literal and an ``ArrayList.add`` per value, and ``approxQuantile``
sends its probabilities and reads back its result matrix value by value.
With thousands of labels or landmarks those calls are most of a fit's or a
transform build's driver time. The helpers here send doubles as one
big-endian byte string (``ByteBuffer`` → ``double[]``) and strings as one
joined string split JVM-side, so the cost no longer grows with the list.
They build the same JVM objects PySpark would, so plans and results are
unchanged.
"""

from __future__ import annotations

import itertools

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql.utils import get_active_spark_context


def double_array(values) -> object:
    """A JVM ``double[]`` holding ``values``."""
    sc = get_active_spark_context()
    data = np.asarray(values, dtype=">f8")
    arr = sc._gateway.new_array(sc._jvm.double, len(data))
    if len(data):
        sc._jvm.java.nio.ByteBuffer.wrap(data.tobytes()).asDoubleBuffer().get(arr)
    return arr


def doubles_from(jarr) -> list[float]:
    """The values of a JVM ``double[]`` as Python floats."""
    n = len(jarr)
    if n == 0:
        return []
    buf = get_active_spark_context()._jvm.java.nio.ByteBuffer.allocate(8 * n)
    buf.asDoubleBuffer().put(jarr)
    return np.frombuffer(buf.array(), dtype=">f8").tolist()


def string_array(values: list[str]) -> object:
    """A JVM ``String[]`` holding ``values``: one joined string, split
    JVM-side keeping empty tokens, on a character none of them contains."""
    sc = get_active_spark_context()
    values = list(values)
    if len(values) < 2:
        # a lone "" would join to "", which splits into no tokens at all
        arr = sc._gateway.new_array(sc._jvm.String, len(values))
        for i, v in enumerate(values):
            arr[i] = v
        return arr
    text = "".join(values)
    sep = next(ch for ch in map(chr, itertools.count(0xE000)) if ch not in text)
    return sc._jvm.org.apache.commons.lang3.StringUtils.splitByWholeSeparatorPreserveAllTokens(
        sep.join(values), sep
    )


def doubles_lit(values) -> Column:
    """An ``array<double>`` literal column holding ``values``."""
    sc = get_active_spark_context()
    return Column(sc._jvm.org.apache.spark.sql.functions.lit(double_array(values)))


def isin(col: Column, values: list[str]) -> Column:
    """``col.isin(*values)`` for string ``values``: the same ``In``
    expression, built in a constant number of py4j calls."""
    sc = get_active_spark_context()
    seq = sc._jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(string_array(values))
    return Column(col._jc.isin(seq))


def approx_quantile(
    df: DataFrame, cols: list[str], probs, relative_error: float
) -> list[list[float]]:
    """``df.stat.approxQuantile(cols, probs, relative_error)``: the same JVM
    call, with the probabilities and the result matrix moved as bytes."""
    res = df._jdf.stat().approxQuantile(
        string_array(cols), double_array(probs), float(relative_error)
    )
    return [doubles_from(res[i]) for i in range(len(cols))]
