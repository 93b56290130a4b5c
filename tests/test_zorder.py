"""Z-order layout: footer-stats pruning must actually work — for a 2-D box
predicate the z-ordered layout touches a fraction of the files a random
layout touches (measured from real parquet row-group min/max, the same
stats a 100 TB scan planner prunes with)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from kinesis3_spark.operators.zorder import Z_FILES as N_FILES, write_zordered


def _touched(path: str, user_box: tuple, value_box: tuple) -> tuple[int, int]:
    """(files whose stats intersect the box, total files)."""
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    touched = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(len(md.schema))}
        mins = {"user_id": None, "value": None}
        maxs = {"user_id": None, "value": None}
        for rg in range(md.num_row_groups):
            for c in ("user_id", "value"):
                st = md.row_group(rg).column(names[c]).statistics
                mins[c] = st.min if mins[c] is None else min(mins[c], st.min)
                maxs[c] = st.max if maxs[c] is None else max(maxs[c], st.max)
        if (
            mins["user_id"] <= user_box[1]
            and maxs["user_id"] >= user_box[0]
            and mins["value"] <= value_box[1]
            and maxs["value"] >= value_box[0]
        ):
            touched += 1
    return touched, len(files)


def test_zorder_prunes_2d_boxes(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "value")
    stats = ev.selectExpr(
        "min(user_id)", "max(user_id)", "min(value)", "max(value)"
    ).first()
    # a ~10% x 10% box in the middle of both ranges
    u_span, v_span = stats[1] - stats[0], stats[3] - stats[2]
    user_box = (stats[0] + 0.45 * u_span, stats[0] + 0.55 * u_span)
    value_box = (stats[2] + 0.45 * v_span, stats[2] + 0.55 * v_span)

    rand_path = str(tmp_path / "random")
    ev.repartition(N_FILES).write.parquet(rand_path)
    z_path = str(tmp_path / "zorder")
    write_zordered(ev, z_path, "user_id", "value")

    # same data either way
    assert (
        spark.read.parquet(z_path).count() == spark.read.parquet(rand_path).count()
    )

    t_rand, n_rand = _touched(rand_path, user_box, value_box)
    t_z, n_z = _touched(z_path, user_box, value_box)
    assert n_rand == n_z == N_FILES
    assert t_rand == N_FILES  # random layout: every file spans both ranges
    assert t_z <= N_FILES // 2, f"z-order touched {t_z}/{n_z} files"


def test_z_value_matches_python_morton(spark):
    """The Morton interleave built from shift/and/or Column expressions
    must equal a plain-Python bit interleave on random bucket pairs —
    pins the bit logic the file-pruning layout rests on."""
    import random

    from pyspark.sql import functions as F

    from kinesis3_spark.operators.zorder import z_value

    rng = random.Random(11)
    pairs = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    df = spark.createDataFrame(pairs, "x long, y long")
    got = [
        r.z
        for r in df.select(z_value(F.col("x"), F.col("y")).alias("z"))
        .collect()
    ]

    def morton(x: int, y: int) -> int:
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == [morton(x, y) for x, y in pairs]
