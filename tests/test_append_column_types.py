"""Appends store the table's column types.

``spark.createDataFrame`` of a pandas frame infers ``bigint`` for Python
ints, so a frame built from plain rows carries 64-bit ``w``/``h`` into an
``int`` table. The writer casts every table column it writes to its table
type: files never hold a physical type the table does not declare, which
Spark's parquet reader refuses (``PARQUET_COLUMN_DATA_TYPE_MISMATCH``).
"""

import glob
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nessie_spark import synth
from nessie_spark.lakehouse import jobs
from nessie_spark.lakehouse.scan import scan
from nessie_spark.lakehouse.writer import IMAGES_ARROW, write_slices
from tests.conftest import PLACEMENTS, on_spark


@pytest.mark.parametrize("placement", PLACEMENTS)
def test_append_of_a_pandas_frame_writes_table_types(spark, tmp_path, placement):
    """Both append paths (the driver write of a local frame, the Spark
    task write of ``.repartition(1)``) store int32 ``w``/``h``, and the
    Spark read of the table returns the rows."""
    t = jobs.create_images_table(str(tmp_path / "tb"))
    rows = [synth.row_for(5, i) for i in range(8)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    assert dict(df.dtypes)["w"] == "bigint"
    jobs.append(spark, t, df.repartition(1) if placement == "spark" else df, job_id="a")
    t = t.refresh()
    for e in t.file_entries(columns=["file_path"]).to_pylist():
        schema = pq.read_schema(os.path.join(t.root, e["file_path"]))
        assert (schema.field("w").type, schema.field("h").type) == (pa.int32(), pa.int32())
    with on_spark(spark):
        got = sorted(r.image_id for r in scan(spark, t).select("image_id").collect())
    assert got == sorted(r["image_id"] for r in rows)


def test_out_of_range_value_writes_no_file(tmp_path):
    tbl = pa.Table.from_pylist(
        [dict(synth.row_for(5, 0), w=2**40)],
        schema=IMAGES_ARROW.set(IMAGES_ARROW.get_field_index("w"), pa.field("w", pa.int64())),
    )
    with pytest.raises(pa.ArrowInvalid):
        write_slices(tbl, str(tmp_path), "j-append-p00000", schema=IMAGES_ARROW)
    assert glob.glob(str(tmp_path / "**" / "*.parquet"), recursive=True) == []
