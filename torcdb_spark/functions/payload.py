"""The payload kernel and the fixture-synthesis UDF: where binary
payloads cross between the JVM and Python.

``payload_rows`` is the one Arrow-batched ``mapInPandas`` kernel of
every binary reader in ``sources/`` and every media operator in
``operators/multimodal.py``.  A format module supplies one per-payload
``parse`` function and an output schema; the kernel does the batch
iteration, key copying, fan-out and frame assembly.  ``synth_udf`` is
the one binary-returning pandas_udf.  It turns a per-row encoder into a
column expression, which is how ``queries.py`` synthesizes its
per-document payload fixtures.  Payload bytes stay in Arrow buffers on
the executor in both directions.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified type hints

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def payload_rows(frame: DataFrame, parse, schema) -> DataFrame:
    """``parse(payload)`` per input row, in one mapInPandas pass.  Every
    input column before the last is a key, copied to the start of each
    output row; the last column is the payload, which ``parse`` gets as
    bytes, or as None when it is NULL.  ``schema`` is flat DDL or a
    StructType whose leading columns are the keys.  A dict from
    ``parse`` gives one row, its keys naming the other columns; a list
    gives one row per item, each item a dict or a tuple in column order.
    A payload whose ``parse`` raises ValueError is dropped."""
    if isinstance(schema, T.StructType):
        names = schema.names
    else:
        names = [field.split()[0] for field in schema.split(",")]

    def kernel(batches):
        for pdf in batches:
            rows = []
            for *key, payload in zip(*(pdf[c] for c in pdf.columns)):
                try:
                    parsed = parse(None if payload is None else bytes(payload))
                except ValueError:
                    continue
                for item in parsed if isinstance(parsed, list) else [parsed]:
                    if isinstance(item, dict):
                        item = [item[k] for k in names[len(key):]]
                    rows.append((*key, *item))
            # object columns: pandas would widen an int column holding a
            # None to float64 and round every long above 2**53 in it
            yield pd.DataFrame(rows, columns=names, dtype=object)

    return frame.mapInPandas(kernel, schema=schema)


def synth_udf(encode):
    """The one fixture-synthesis UDF: a binary pandas_udf whose output
    row is ``encode(*row)`` over its argument columns.  ``tolist()``
    hands ``encode`` Python ints, bools, strs and bytes."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def synth(*cols: pd.Series) -> pd.Series:
        rows = zip(*(c.tolist() for c in cols))
        return pd.Series([encode(*row) for row in rows])

    return synth
