"""State-store partition sizing of the stream-stream attribution join."""

from dbt_jaffleshop_spark.streaming import joins


class _Conf:
    def get(self, key):
        assert key == "spark.sql.shuffle.partitions"
        return "200"


class _Spark:
    conf = _Conf()


def test_directory_layout_source_is_sized_by_its_part_files(tmp_path, monkeypatch):
    """A directory-layout ``events*.parquet`` source (what
    ``df.write.parquet`` produces) counts its leaf part-files, not the
    directory inode; Spark's hidden metadata files are skipped."""
    target = 4096
    monkeypatch.setattr(joins, "_STATE_TARGET_BYTES", target)
    src = tmp_path / "events.parquet"
    (src / "day=1").mkdir(parents=True)
    n_parts = 8
    for i in range(n_parts):
        sub = src / "day=1" if i % 2 else src
        (sub / f"part-{i:05d}.snappy.parquet").write_bytes(b"x" * target)
    (src / "_SUCCESS").write_bytes(b"")
    (src / ".part-00000.snappy.parquet.crc").write_bytes(b"x" * target)
    (src / "_temporary").mkdir()
    (src / "_temporary" / "part-99999.parquet").write_bytes(b"x" * target)
    # a single-file source next to it is still counted by its own size
    (tmp_path / "events_extra.parquet").write_bytes(b"x" * target)

    assert n_parts * target > 4 * target
    got = joins._attribution_shuffle_partitions(_Spark(), str(tmp_path))
    assert got == n_parts + 1
