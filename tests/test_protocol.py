"""Protocol versioning: reader/writer feature gates (Delta table
features shape) — unknown features must refuse loudly, enabling
features upgrades the protocol in the same commit, clones inherit it."""

import json
import os

import pytest

from delta_lake_spark.errors import UnsupportedProtocolError
from delta_lake_spark.log import DeltaLog, Protocol
from delta_lake_spark.reader import read_delta
from delta_lake_spark.table import DeltaTable
from delta_lake_spark.writer import write_delta


@pytest.fixture()
def table(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double"), p
    )
    return DeltaTable.forPath(spark, p)


def _append_protocol(path, **kwargs):
    log = DeltaLog(path)
    v = log.latest_version() + 1
    action = Protocol(**kwargs).to_action()
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"operation": "UPGRADE"}}) + "\n")
        fh.write(json.dumps(action) + "\n")


def test_new_tables_carry_base_protocol(table):
    snap = table._log.snapshot()
    assert snap.protocol.minReaderVersion == 1
    assert snap.protocol.minWriterVersion == 2


def test_unknown_reader_feature_refuses_read_and_write(spark, table):
    _append_protocol(
        table.path,
        minReaderVersion=3,
        minWriterVersion=7,
        readerFeatures=["v2Checkpoint"],
        writerFeatures=["v2Checkpoint"],
    )
    with pytest.raises(UnsupportedProtocolError):
        read_delta(spark, table.path)
    with pytest.raises(UnsupportedProtocolError):
        write_delta(
            spark.createDataFrame([(3, 1.0)], "id long, v double"), table.path
        )
    with pytest.raises(UnsupportedProtocolError):
        table.delete("id = 1")


def test_unknown_writer_feature_blocks_writes_not_reads(spark, table):
    table.add_constraint("positive", "id > 0")  # one for DROP CONSTRAINT
    _append_protocol(
        table.path,
        minReaderVersion=1,
        minWriterVersion=7,
        # a writer-only feature this engine does NOT implement (row
        # tracking graduated to supported in round 2, so it no longer
        # works as the unknown example)
        writerFeatures=["icebergCompatV2"],
    )
    assert read_delta(spark, table.path).count() == 2  # reads fine
    version = table.version()
    writes = [
        lambda: table.update("id = 1", {"v": "0.0"}),
        lambda: table.add_constraint("small", "id < 100"),
        lambda: table.drop_constraint("positive"),
        lambda: table.set_properties({"owner": "etl"}),
        lambda: table.unset_properties(["owner"]),
        lambda: table.drop_feature("icebergCompatV2"),
        lambda: table.restore(0),
    ]
    for write in writes:
        with pytest.raises(UnsupportedProtocolError):
            write()
    assert table.version() == version  # nothing committed
    assert read_delta(spark, table.path).count() == 2


def test_rename_upgrades_protocol_with_column_mapping(spark, table):
    table.rename_column("v", "value")
    proto = table._log.snapshot().protocol
    assert "columnMapping" in proto.readerFeatures
    assert proto.minReaderVersion == 3
    # still readable/writable by this engine
    assert read_delta(spark, table.path).count() == 2


def test_dv_delete_upgrades_protocol(spark, table):
    table.delete("id = 1", use_dv=True)
    proto = table._log.snapshot().protocol
    assert "deletionVectors" in proto.readerFeatures


def test_clone_inherits_protocol(spark, tmp_path, table):
    table.rename_column("v", "value")
    clone = table.clone(str(tmp_path / "c"), shallow=True)
    proto = clone._log.snapshot().protocol
    assert "columnMapping" in proto.readerFeatures
    assert read_delta(spark, clone.path).columns == ["id", "value"]


def test_protocol_survives_checkpoint_replay(spark, table):
    table.rename_column("v", "value")
    log = DeltaLog(table.path)
    log.write_checkpoint()
    fresh = DeltaLog(table.path)  # cold cache -> checkpoint replay
    proto = fresh.snapshot().protocol
    assert "columnMapping" in proto.readerFeatures


def test_detail_reports_protocol(spark, table):
    row = table.detail().collect()[0]
    assert row.minReaderVersion == 1 and row.minWriterVersion == 2
    table.rename_column("v", "value")
    row = table.detail().collect()[0]
    assert row.minReaderVersion == 3
    assert "columnMapping" in row.tableFeatures


def test_drop_feature_gates_and_removal(spark, tmp_path):
    """DROP FEATURE: DV drop refused while sidecars live, allowed after
    purge; ICT drop strips the property + provenance; columnMapping
    refused; protocol loses the feature."""
    import pytest

    from delta_lake_spark import write_delta
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.table import DeltaTable

    path = str(tmp_path / "dropf")
    df = spark.range(20).withColumnRenamed("id", "k")
    write_delta(
        df, path, properties={"delta.enableInCommitTimestamps": "true"}
    )
    dt = DeltaTable.forPath(spark, path)
    dt.delete("k < 5", use_dv=True)

    with pytest.raises(ValueError):
        dt.drop_feature("deletionVectors")  # live sidecar
    dt.purge_deletion_vectors()
    dt.drop_feature("deletionVectors")
    snap = DeltaLog(path).snapshot()
    assert "deletionVectors" not in snap.protocol.readerFeatures

    dt.drop_feature("inCommitTimestamp")
    snap = DeltaLog(path).snapshot()
    assert "inCommitTimestamp" not in snap.protocol.writerFeatures
    conf = snap.metadata.configuration
    assert "delta.enableInCommitTimestamps" not in conf
    assert "delta.inCommitTimestampEnablementVersion" not in conf

    with pytest.raises(ValueError):
        dt.drop_feature("inCommitTimestamp")  # already gone

    # reads still correct after both drops
    from delta_lake_spark import read_delta

    assert read_delta(spark, path).count() == 15


def test_drop_feature_column_mapping_refused(spark, tmp_path):
    import pytest

    from delta_lake_spark import write_delta
    from delta_lake_spark.table import DeltaTable

    path = str(tmp_path / "dropcm")
    write_delta(spark.range(5).withColumnRenamed("id", "k"), path)
    dt = DeltaTable.forPath(spark, path)
    dt.rename_column("k", "kk")  # upgrades to columnMapping
    with pytest.raises(ValueError):
        dt.drop_feature("columnMapping")
