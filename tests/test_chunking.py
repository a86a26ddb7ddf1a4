"""P6 time chunking: chunk-size derivation semantics (reference
src/cli.rs:1260-1331) and range-partitioned chunk assignment."""

from __future__ import annotations

import pytest

from birli_spark import pipeline
from birli_spark.operators import chunking
from birli_spark.sources import synthetic as syn


def test_chunk_size_from_memory_matches_reference_semantics():
    # everything fits -> no chunking
    assert chunking.chunk_size_from_memory(1e9, 100, 10, 4) is None
    # floor(mem / block) * avg_time
    assert chunking.chunk_size_from_memory(1000, 100, 100, 4) == 8
    assert chunking.chunk_size_from_memory(799, 100, 100, 4) == 4
    # budget below one averaged block -> error
    with pytest.raises(ValueError, match="averaged block"):
        chunking.chunk_size_from_memory(399, 100, 100, 4)
    with pytest.raises(ValueError, match="byte"):
        chunking.chunk_size_from_memory(0.5, 100, 100, 4)


def test_validate_chunk_multiple_of_avg_time():
    chunking.validate_chunk_size(8, 4)
    with pytest.raises(ValueError, match="multiple"):
        chunking.validate_chunk_size(6, 4)


def test_chunk_assignment_and_partitioning(spark, sf_dir):
    vis = syn.load_vis(spark, sf_dir)
    chunked = chunking.with_time_chunks(vis, 8, avg_time=pipeline.AVG_TIME)
    pairs = {(r.chunk, r.t) for r in
             chunked.select("chunk", "t").distinct().collect()}
    assert pairs == {(t // 8, t) for t in range(syn.NUM_T)}
    # partitions contain whole chunks: no chunk spans two partitions
    chunk_parts = (chunked.select("chunk")
                   .rdd.mapPartitionsWithIndex(
                       lambda i, it: [(i, c.chunk) for c in it])
                   .distinct().collect())
    by_chunk = {}
    for part, chunk in chunk_parts:
        by_chunk.setdefault(chunk, set()).add(part)
    assert all(len(parts) == 1 for parts in by_chunk.values())

def test_chunk_steps_from_memory_dims(spark, sf_dir):
    """--max-memory derives the chunk count from the SELECTED cube dims
    with the reference's 37 B/cell estimate (src/cli.rs:1306-1318)."""
    vis = syn.load_vis(spark, sf_dir)
    per_t = 16 * (syn.NUM_CC * syn.NUM_FC) * chunking.BYTES_PER_CELL
    gib = 1024.0 ** 3
    # budget of ~2.5 timesteps, avg_time 2 -> floor(2.5/2)*2 = 2 steps
    assert chunking.chunk_steps_from_memory(
        vis, 2.5 * per_t / gib, 2) == 2
    # whole obs fits -> None
    assert chunking.chunk_steps_from_memory(
        vis, 17 * per_t / gib, 2) is None


def test_cli_max_memory_equals_time_chunk(spark, sf_dir, tmp_path):
    """The CLI's --max-memory path writes a file byte-identical to the
    equivalent explicit --time-chunk run."""
    import filecmp

    from birli_spark import cli
    per_t = 16 * (syn.NUM_CC * syn.NUM_FC) * chunking.BYTES_PER_CELL
    gib = 1024.0 ** 3
    a = str(tmp_path / "mem.uvfits")
    b = str(tmp_path / "chunk.uvfits")
    base = [sf_dir, "--no-rfi", "--no-draw-progress"]
    cli.run([*base, "--max-memory", str(4.4 * per_t / gib), "-u", a],
            spark=spark)
    cli.run([*base, "--time-chunk", "4", "-u", b], spark=spark)
    assert filecmp.cmp(a, b, shallow=False)


@pytest.mark.needs_reference("1254670392_avg")
def test_selected_dims_real_metafits(spark, gpubox_dir):
    """--max-memory's metadata sizing on a REAL metafits: dims from the
    header narrowed by plain selections, None for selections the
    observation cannot size (falls back to the scan)."""
    from birli_spark import cli, real_input

    meta = ("/root/reference/tests/data/1254670392_avg/"
            "1254670392.fixed.metafits")
    obs = real_input.ArchiveObservation(spark, meta, gpubox_dir["glob"])

    def dims(*opts):
        return obs.selected_dims(cli.parse_args(
            ["-m", meta, "--gpubox", gpubox_dir["glob"], *opts]))

    assert dims() == (2, 128 * 129 // 2, 768)
    n_t, n_bl, _ = dims("--sel-time", "0", "0", "--sel-ants", "0", "1", "2",
                        "--no-sel-autos")
    assert (n_t, n_bl) == (1, 3)
    assert dims("--no-sel-flagged-ants") is None
    assert dims("--sel-chan-ranges", "0-2") is None
    # the window clamps to the observation (the reference sizes from
    # the clamped vis_sel.timestep_range): --sel-time 1 5 on this
    # 2-scan obs selects ONE timestep, not hi-lo+1 = 5
    assert dims("--sel-time", "1", "5")[0] == 1
    assert dims("--sel-time", "0", "99")[0] == 2
