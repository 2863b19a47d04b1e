"""The one-pass impute walk (walk_input -> impute_summary ->
replay_impute -> emit_map_blocks -> expand_map_blocks) against a plain-Python replay of the
reference walk (impute_children zoom by zoom, mbtile_tools.py:106-196)
on random tiles_all key sets: heavy ids that turn dup at different
zooms, rows carrying the empty id, rows under tiles that tiles_all does
not hold, rows outside the universe, and universes small enough that
the empty id is not a dup at mid."""

import random
from collections import Counter

import pytest

from sparktiles.operators.pyramid import (
    block_stats,
    dup_threshold,
    emit_map_blocks,
    expand_map_blocks,
    impute_summary,
    replay_impute,
    walk_input,
)

E = "e" * 32


def reference_walk(tiles, universe, minzoom, mid, maxzoom):
    """{z: {(x, y): tile_id}} by the reference walk: [minzoom..mid] is
    the universe plus every tiles_all tile, deeper zooms impute."""
    maps = {}
    for z in range(minzoom, mid + 1):
        m = {p: E for p in universe[z]}
        m.update({(x, y): t for (zz, x, y), t in tiles.items() if zz == z})
        maps[z] = m
    for z in range(mid + 1, maxzoom + 1):
        parents = maps[z - 1]
        cnt = Counter(parents.values())
        dups = {c for c, n in cnt.items() if n >= dup_threshold(z - 1)}
        m = {}
        for (x, y), c in parents.items():
            for k in ((2 * x, 2 * y), (2 * x + 1, 2 * y),
                      (2 * x, 2 * y + 1), (2 * x + 1, 2 * y + 1)):
                m[k] = c if c in dups else tiles.get((z,) + k, E)
        maps[z] = m
    return maps


def random_case(seed, minzoom, mid, maxzoom, shadow=False):
    """Random tiles_all keys + universe. With `shadow`, 24 mid tiles
    share one id (a dup at mid) and all their children share another
    heavy id that every map row then imputes away."""
    rng = random.Random(seed)
    n_mid = 2 ** mid
    if rng.random() < 0.5 and not shadow:  # a bounds-style rectangle
        x0, y0 = rng.randrange(n_mid), rng.randrange(n_mid)
        x1 = min(n_mid - 1, x0 + rng.randrange(3))
        y1 = min(n_mid - 1, y0 + rng.randrange(3))
    else:
        x0 = y0 = 0
        x1 = y1 = n_mid - 1
    universe = {}
    for z in range(minzoom, mid + 1):
        sh = mid - z
        universe[z] = {(x, y) for x in range(x0 >> sh, (x1 >> sh) + 1)
                       for y in range(y0 >> sh, (y1 >> sh) + 1)}
    heavy = ["h%d" % i + "0" * 30 for i in range(3)]
    p_row = rng.choice([0.3, 0.6, 0.9])
    p_heavy = rng.choice([0.2, 0.5, 0.8])
    tiles = {}
    for z in range(minzoom, maxzoom + 1):
        n = 2 ** z
        for x in range(n):
            for y in range(n):
                if rng.random() >= p_row:
                    continue
                r = rng.random()
                if r < 0.05:
                    tid = E
                elif r < 0.05 + p_heavy:
                    tid = rng.choice(heavy)
                else:
                    tid = "u%d_%d_%d" % (z, x, y)
                tiles[(z, x, y)] = tid
    if shadow:
        tiles = {k: t for k, t in tiles.items() if t != heavy[0]}
        for x, y in sorted(universe[mid])[:24]:
            tiles[(mid, x, y)] = heavy[0]
            for dx in (0, 1):
                for dy in (0, 1):
                    tiles[(mid + 1, 2 * x + dx, 2 * y + dy)] = "s" * 32
    return tiles, universe


@pytest.mark.parametrize("seed,minzoom,mid,maxzoom,shadow,n_parts", [
    (0, 0, 2, 5, False, None), (1, 1, 3, 5, False, None),
    (2, 0, 0, 4, False, None), (6, 1, 3, 5, False, 5),
    (3, 0, 3, 5, True, None), (4, 2, 3, 5, True, 3),
])
def test_walk_equals_reference(spark, seed, minzoom, mid, maxzoom, shadow,
                               n_parts):
    tiles, universe = random_case(seed, minzoom, mid, maxzoom, shadow)
    tdf = spark.createDataFrame(
        [(z, x, y, t) for (z, x, y), t in tiles.items()],
        "z int, x long, y long, tile_id string")
    udf = spark.createDataFrame(
        [(z, x, y) for z, ps in universe.items() for x, y in ps],
        "z int, x long, y long")
    part = walk_input(tdf, udf, mid, E, n_parts).localCheckpoint(eager=False)
    if n_parts:
        assert part.rdd.getNumPartitions() == n_parts
    summary = impute_summary(part, mid, maxzoom, E)
    plan = replay_impute(summary, minzoom, mid, maxzoom, E)
    blocks = emit_map_blocks(part, plan["dups"], mid, maxzoom, E) \
        .localCheckpoint(eager=True)
    got = expand_map_blocks(blocks, maxzoom).collect()

    want = reference_walk(tiles, universe, minzoom, mid, maxzoom)
    rows = [(r.zoom_level, r.tile_column, r.tile_row) for r in got]
    assert len(rows) == len(set(rows))
    assert {(r.zoom_level, r.tile_column, r.tile_row): r.tile_id
            for r in got} == {(z, x, y): t for z, m in want.items()
                              for (x, y), t in m.items()}

    # the kernel's output grows with tiles_all, not with the map: a
    # root is one row, and roots only sit under non-roots
    brows = blocks.collect()
    n_marker = sum(len(ps) for ps in universe.values())
    assert len(brows) <= 5 * len(tiles) + n_marker
    if shadow:  # 24 dup roots at mid: their subtrees are 24 rows
        assert len(brows) < len(got) - 24 * 4

    # per-zoom stats match the reference walk's counts
    for st in plan["zooms"]:
        m = want[st["z"]]
        assert st["n_tiles"] == len(m)
        assert st["n_nonempty"] == sum(t != E for t in m.values())
        if st["z"] > mid:
            parents = want[st["z"] - 1]
            cnt = Counter(parents.values())
            dups = {c for c, n in cnt.items()
                    if n >= dup_threshold(st["z"] - 1)}
            assert st["n_imputed"] == 4 * sum(
                c in dups for c in parents.values())
        assert st["n_generated"] == st["n_tiles"] - st["n_imputed"]

    # lineage stats folded from the blocks == those of the rows
    folded: dict = {}
    block_stats([tuple(r) for r in brows], maxzoom, E, folded)
    for z, m in want.items():
        xs = [x for x, _ in m]
        ys = [y for _, y in m]
        assert folded[z][:6] == [len(m), sum(t != E for t in m.values()),
                                 min(xs), max(xs), min(ys), max(ys)]
        assert folded[z][6] == set(m.values())

    # images: the blocks carry exactly the ids the map uses, and the
    # shadowed heavy id (imputed away everywhere) is not among them
    used = {r.tile_id for r in brows}
    assert used == {t for m in want.values() for t in m.values()}
    assert ("s" * 32 not in used) or not shadow
