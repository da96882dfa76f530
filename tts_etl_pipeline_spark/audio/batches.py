"""Arrow record-batch plumbing for the audio `mapInArrow` stages.

Sample arrays cross the JVM<->Python boundary as Arrow list<float>
columns; these helpers turn such a column into per-row float32 numpy views
(no copy) and a list of numpy arrays back into one list column (one
concatenate), so no stage pays a pandas or per-element Python conversion.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Spark's Arrow type for array<float> (pyspark.sql.pandas.types.to_arrow_type)
SAMPLES_TYPE = pa.list_(pa.field("element", pa.float32()))


def float_lists(col: pa.ListArray) -> list[np.ndarray]:
    """A list<float> column as one float32 view per row. `offsets` already
    account for a sliced column; `values` is the unsliced child."""
    values = col.values.to_numpy(zero_copy_only=False)
    offsets = col.offsets.to_numpy()
    return [values[offsets[i] : offsets[i + 1]] for i in range(len(col))]


def float_list_array(rows: list[np.ndarray]) -> pa.ListArray:
    """Per-row float32 arrays -> one list<float> column."""
    offsets = np.zeros(len(rows) + 1, dtype=np.int32)
    np.cumsum([r.size for r in rows], out=offsets[1:])
    values = np.concatenate(rows) if rows else np.empty(0, dtype=np.float32)
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values, pa.float32()), type=SAMPLES_TYPE
    )


def record_batch(schema: StructType, columns: list[pa.Array]) -> pa.RecordBatch:
    """Columns in `schema`'s order -> a batch typed exactly as Spark expects."""
    return pa.RecordBatch.from_arrays(columns, schema=to_arrow_schema(schema))
