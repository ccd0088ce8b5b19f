"""Grid-bucketed spatial operators over (lat, lon) columns.

The reference extracts city coordinates (C11, src/wiki_data_line.rs:
245-248) but never computes on them; these are the engine-growth spatial
operators that data makes possible — the same blocking idea as the
time-bucketed range join (operators/rangejoin.py) applied to 2-D space.

Two metrics (r6 verdict #3):

- ``metric="degrees"`` (default): SQUARED DEGREES (dlat² + dlon²) —
  pure arithmetic, bit-identical across engines; trig is avoided so the
  value-hash oracle holds bit-for-bit. Fine near the equator, but a
  degree of longitude shrinks as cos(lat): at lat 60° it is HALF a
  degree of latitude, so the pure-degree ranking picks provably wrong
  neighbors at high latitude (test_spatial pins a concrete case).
- ``metric="scaled"``: equirectangular — the wrapped lon delta is
  scaled by cos of the pair's mid-latitude before squaring
  (dlat² + (dlon·cos(mid))²), the standard small-distance geodesic
  approximation. The exact join's ring guarantee SHRINKS per point: an
  unprobed site r cells away along longitude is only guaranteed
  ≥ min(t, r·cell_deg·cos(|p_lat| + t/2)) scaled degrees away (valid
  for any threshold t — the lat term is unscaled, so |dlat| ≥ t is a
  distance bound by itself; t = r·cell_deg·cos(|p_lat|) is used), so
  the done-test uses that bound; exactly at the poles it is 0 and those
  points keep expanding until the probe covers the grid — still exact.

Squared forms only — monotone in the true distance, so ranking never
needs the sqrt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geo_db_spark.operators.rounds import checkpoint_round, fixpoint


def _dist2(metric: str) -> Column:
    """Squared distance between (p_lat,p_lon) and (s_lat,s_lon) columns
    under the chosen metric; lon delta wrapped min(|d|, 360-|d|)."""
    dlat = F.col("p_lat") - F.col("s_lat")
    dlon_abs = F.abs(F.col("p_lon") - F.col("s_lon"))
    dlon = F.least(dlon_abs, F.lit(360.0) - dlon_abs)
    if metric == "degrees":
        return dlat * dlat + dlon * dlon
    if metric == "scaled":
        c = F.cos(F.radians((F.col("p_lat") + F.col("s_lat")) / F.lit(2.0)))
        return dlat * dlat + (dlon * c) * (dlon * c)
    raise ValueError(f"metric must be 'degrees' or 'scaled', got {metric!r}")


def _grid_row_col(lat: Column, lon: Column, cell_deg: float) -> tuple[Column, Column, int]:
    """(row, UNWRAPPED column, row width) — the single source of the grid
    arithmetic; both the cell id and the probe neighborhood derive from
    it so the two can never diverge (r5 review)."""
    w = _row_width(cell_deg)
    ny = F.floor((lat + F.lit(90.0)) / F.lit(cell_deg)).cast("long")
    nx = F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)).cast("long")
    return ny, nx, w


def _row_width(cell_deg: float) -> int:
    """360/cell_deg, validated to be an exact integer. A non-divisor
    cell_deg (e.g. 0.7 -> 514.28... columns) would TRUNCATE here and fold
    the last partial column into column 0 via pmod, making one seam
    column ~2x wide — the docstring's exactly-(360/cell_deg)-wide grid
    would be a lie (ADVICE r6). Raise like the w < 3 guard does."""
    w = 360.0 / cell_deg
    if abs(w - round(w)) > 1e-9:
        raise ValueError(
            f"cell_deg={cell_deg} does not divide 360 evenly "
            f"(360/cell_deg = {w}); the wrapped grid needs an integer "
            "column count — pick a divisor of 360 (1.0, 0.5, 0.25, ...)"
        )
    return int(round(w))


def grid_cell(lat: Column, lon: Column, cell_deg: float = 1.0) -> Column:
    """Integer grid cell id for a (lat, lon): row-major over an
    exactly-(360/cell_deg)-wide grid with the LONGITUDE COLUMN WRAPPED
    modulo the row width, so lon=+180 and lon=-180 land in the same
    cell (they are the same meridian). Latitude rows do NOT wrap — the
    poles are not adjacent to each other. Pure integer arithmetic —
    same value in the DuckDB oracle."""
    ny, nx, w = _grid_row_col(lat, lon, cell_deg)
    return ny * F.lit(w) + F.pmod(nx, F.lit(w))


def derive_cell_deg(sites: DataFrame, k: int = 1, overprobe: float = 4.0) -> float:
    """Density-scaled grid pitch (r6 verdict #8): pick ``cell_deg`` so a
    3x3 probe neighborhood holds ~``k * overprobe`` sites in expectation,
    instead of shipping a hand-tuned constant that silently goes stale
    when site density changes (SCALE.md r6 measured 196 s at a stale
    knob vs 6.8 s scaled).

    Density is measured over OCCUPIED 10-degree coarse cells, not the
    whole sphere — sites cluster (land, cities), and dividing by the
    full 180x360 area would overestimate the pitch ~3x for a
    land-only corpus. One tiny aggregate job (2 longs out); the result
    snaps UP to the nearest divisor-of-360 ladder step so _row_width's
    integer-grid contract always holds. Clamped to [0.125, 90].
    """
    coarse = F.floor((F.col("lat") + F.lit(90.0)) / F.lit(10.0)) * F.lit(36) + F.floor(
        (F.col("lon") + F.lit(180.0)) / F.lit(10.0)
    )
    row = sites.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(coarse).alias("m"),
    ).collect()[0]
    n, m = row["n"], row["m"]
    if n == 0 or m == 0:
        return 10.0  # no sites: pitch is irrelevant, probes match nothing
    density = n / (m * 100.0)  # sites per squared degree of occupied area
    import math

    want = math.sqrt(max(k, 1) * overprobe / (9.0 * density))
    ladder = [0.125, 0.25, 0.5, 1.0, 2.0, 2.5, 3.0, 4.0, 5.0, 6.0, 8.0,
              9.0, 10.0, 12.0, 15.0, 18.0, 20.0, 24.0, 30.0, 36.0, 40.0,
              45.0, 60.0, 72.0, 90.0]
    for step in ladder:
        if step >= want:
            return step
    return ladder[-1]


def grid_knn_join(
    points: DataFrame,
    sites: DataFrame,
    k: int = 1,
    cell_deg: float | None = 1.0,
    point_id: str = "point_id",
    site_id: str = "site_id",
    metric: str = "degrees",
) -> DataFrame:
    """k nearest ``sites`` per ``points`` row via grid blocking: every
    site lands in ONE cell, every point probes its own cell plus the 8
    neighbors, candidates are ranked by squared-degree distance.

    Approximate by design (like the LSH/IVF ANN paths): a point whose
    true neighbor is farther than one cell away misses it — pick
    ``cell_deg`` >= the expected nearest-neighbor distance. Points in
    empty neighborhoods return fewer than k rows rather than a wrong
    answer.

    Scale shape: the only join is cell-local (9 probe cells per point,
    each site replicated zero times) — never a cross join of points x
    sites; ranking is a per-point window over the bounded candidate
    set. Deterministic: integer cells, exact double arithmetic, ties
    broken by site id.

    Antimeridian (r4 verdict #5): the 3×3 neighborhood is built from the
    (row, column) pair, wrapping the COLUMN modulo the row width — a
    probe at lon≈180 reaches the lon≈-180 cells of the SAME row, and a
    probe in the westmost column no longer leaks into the adjacent row's
    eastmost cell (the old scalar cell±1 arithmetic did both wrong).
    Rows beyond the pole rows simply don't exist, so a dy out of range
    matches nothing — no pole wrap, no duplicate probe cells.

    ``cell_deg=None`` derives the pitch from measured site density
    (``derive_cell_deg``) instead of a hand-tuned constant.
    """
    if cell_deg is None:
        cell_deg = derive_cell_deg(sites, k)
    w = _row_width(cell_deg)
    if w < 3:
        raise ValueError(
            f"cell_deg={cell_deg} gives {w} longitude columns; 3x3 "
            "probing needs at least 3 (coarser grids would probe the "
            "same wrapped column twice)"
        )
    s = sites.select(
        F.col(site_id),
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        grid_cell(F.col("lat"), F.col("lon"), cell_deg).alias("cell"),
    )
    # probe side: explode the 3x3 neighborhood — row offset is plain
    # (non-existent rows match nothing), column offset wraps mod w;
    # same _grid_row_col arithmetic the site cells use
    ny, nx, _ = _grid_row_col(F.col("lat"), F.col("lon"), cell_deg)
    p = points.select(
        F.col(point_id),
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
        F.explode(
            F.array(
                *[
                    (ny + F.lit(dy)) * F.lit(w) + F.pmod(nx + F.lit(dx), F.lit(w))
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                ]
            )
        ).alias("cell"),
    )
    # wrapped lon delta inside _dist2: min(|d|, 360-|d|) — a site 0.2°
    # across the antimeridian is 0.2° away, not 359.8°. The "degrees"
    # form is exact IEEE add/mul/least, bit-identical in DuckDB.
    cand = p.join(s, "cell").select(
        point_id,
        site_id,
        _dist2(metric).alias("dist2"),
    )
    wr = Window.partitionBy(point_id).orderBy(F.col("dist2"), F.col(site_id))
    return (
        cand.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(point_id, site_id, "dist2", F.col("rank").cast("int").alias("rank"))
    )


def grid_knn_join_exact(
    points: DataFrame,
    sites: DataFrame,
    k: int = 1,
    cell_deg: float | None = 1.0,
    point_id: str = "point_id",
    site_id: str = "site_id",
    metric: str = "degrees",
) -> DataFrame:
    """Exact k nearest ``sites`` per point: ``grid_knn_join``'s blocking
    with an iterative RING EXPANSION for the points the 3x3 neighborhood
    cannot satisfy — a frontier loop like transitive_closure_loop,
    applied to space.

    Round at radius r probes the (2r+1)^2 cell neighborhood (column
    offsets wrapped mod the row width; once 2r+1 >= width the probe is
    the full row). A point is DONE when it has >= k candidates whose
    distance is STRICTLY below the round's guarantee radius (r*cell_deg
    for "degrees"; a per-point bound for "scaled" — see the inline
    derivation): any unprobed site sits >= r full cells away, so
    nothing outside the probed region can beat the accepted top-k. The
    result is exact, not best-effort. Unsatisfied points re-probe at
    2r, so the round count is logarithmic in the grid size; once the
    probe covers the whole grid every point is done — if it still has
    < k rows there ARE fewer than k sites on earth.

    Scale shape: every round's join is cell-local; the quadratic
    (2r+1)^2 explode applies only to the shrinking unsatisfied subset.
    One pending COUNT per round (operators/rounds.py) is the job that
    materializes the round.
    """
    import math

    if cell_deg is None:
        cell_deg = derive_cell_deg(sites, k)
    w = _row_width(cell_deg)
    if w < 3:
        raise ValueError(
            f"cell_deg={cell_deg} gives {w} longitude columns; grid "
            "probing needs at least 3"
        )
    n_rows = math.ceil(180.0 / cell_deg)
    s = sites.select(
        F.col(site_id),
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        grid_cell(F.col("lat"), F.col("lon"), cell_deg).alias("cell"),
    )
    pending = points.select(
        F.col(point_id),
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
    )
    dist2 = _dist2(metric)
    wr = Window.partitionBy(point_id).orderBy(F.col("dist2"), F.col(site_id))

    spark = points.sparkSession
    out = spark.createDataFrame(
        [], f"{point_id} {dict(points.dtypes)[point_id]}, {site_id} "
        f"{dict(sites.dtypes)[site_id]}, dist2 double, rank int"
    )

    def ring(state, n):
        out, pending = state
        r = 2 ** (n - 1)  # unsatisfied points re-probe at twice the radius
        # offset grid for this radius, resolved in PYTHON so wrapped
        # columns are probed exactly once (2r+1 >= w -> all w residues as
        # offsets; re-deriving -r..r there would duplicate cells), and
        # carried as a BROADCAST (dy, dx) table rather than an exploded
        # array literal — a (2r+1)² array expression at large radii blew
        # past janino's method-size limit and killed whole-stage codegen.
        # Row offsets are clipped to the grid height: rows beyond the
        # poles never match anything.
        dxs = list(range(-r, r + 1)) if 2 * r + 1 <= w else list(range(w))
        rcap = min(r, n_rows)
        offsets = spark.createDataFrame(
            [(dy, dx) for dy in range(-rcap, rcap + 1) for dx in dxs],
            "dy int, dx int",
        )
        ny, nx, _ = _grid_row_col(F.col("p_lat"), F.col("p_lon"), cell_deg)
        probes = (
            pending.withColumns({"__ny": ny, "__nx": nx})
            .crossJoin(F.broadcast(offsets))
            .select(
                point_id,
                "p_lat",
                "p_lon",
                (
                    (F.col("__ny") + F.col("dy")) * F.lit(w)
                    + F.pmod(F.col("__nx") + F.col("dx"), F.lit(w))
                ).alias("cell"),
            )
        )
        ranked = (
            probes.join(s, "cell")
            .select(point_id, "p_lat", site_id, dist2.alias("dist2"))
            .withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
        )
        if r >= n_rows and 2 * r + 1 >= w:
            # the probe covered the whole grid: every point is done
            return (out.unionByName(
                ranked.select(
                    point_id, site_id, "dist2", F.col("rank").cast("int").alias("rank")
                )
            ), None), True
        # Materialize the round's ranked candidates ONCE: `ranked`
        # feeds done_pts, the output semi-join AND (via done_pts) the
        # pending anti-join, so un-checkpointed the probe explode + cell
        # join + window would run up to three times per round. The
        # alias projection mints fresh attribute ids: localCheckpoint
        # PRESERVES them, and done_pts (derived from this frame) is
        # re-joined against `pending`, the pre-checkpoint lineage.
        ranked = checkpoint_round(ranked)[0].select(
            *[F.col(c).alias(c) for c in ranked.columns]
        )
        # done = k candidates found AND the worst accepted one is
        # STRICTLY closer than anything the unprobed cells could hold —
        # strict, because an unprobed site can sit at exactly r*cell_deg
        # (on its cell's near edge) and outrank the accepted k-th on the
        # site_id tiebreak (ADVICE r6); equality forces another round.
        # Under the scaled metric the bound shrinks per point: an
        # unprobed site r cells away along LONGITUDE is only
        # r*cell_deg*cos(mid-lat) scaled degrees away, and for the
        # lon-gap case the pair's mid-lat is within
        # |p_lat| + r*cell_deg/2 (a site farther in lat trips the
        # unscaled lat bound instead) — so cos of that clamped angle is
        # a valid lower bound. cos -> 0 near the poles: polar points
        # keep expanding until the probe covers the grid, still exact.
        radius = float(r * cell_deg)
        if metric == "scaled":
            # Tight per-point bound: for ANY threshold t >= 0, every
            # unprobed site is at scaled distance
            #   >= min(t, r*cell_deg * cos(min(90, |p_lat| + t/2))):
            # a site with |dlat| >= t trips the unscaled lat term; one
            # with |dlat| < t has pair mid-lat within |p_lat| + t/2, so
            # its >= r*cell_deg lon gap scales by at least that cosine.
            # t = r*cell_deg itself clamps the cosine to 0 for most
            # latitudes as r grows (nearly every point then escalates to
            # the full-grid probe), so take the larger bound of two
            # sound thresholds: t_a = r*cell_deg*cos|p| tracks the
            # answer scale at small/medium radii but collapses once
            # r*cell_deg*cos|p|/2 >= 90-|p|; t_b = 90-|p| keeps the
            # clamp angle at (90+|p|)/2 < 90, so at large radii the
            # bound approaches the over-the-pole distance floor.
            plat = F.abs(F.col("__plat"))
            t_a = F.lit(radius) * F.cos(F.radians(plat))
            g_a = F.least(
                t_a,
                F.lit(radius)
                * F.cos(F.radians(F.least(F.lit(90.0), plat + t_a / F.lit(2.0)))),
            )
            t_b = F.lit(90.0) - plat
            g_b = F.least(
                t_b,
                F.lit(radius) * F.cos(F.radians((F.lit(90.0) + plat) / F.lit(2.0))),
            )
            guarantee = F.greatest(g_a, g_b) ** F.lit(2)
        else:
            guarantee = F.lit(radius**2)
        done_pts = (
            ranked.groupBy(point_id)
            .agg(
                F.count("*").alias("__n"),
                F.max("dist2").alias("__maxd"),
                F.first("p_lat").alias("__plat"),
            )
            .filter((F.col("__n") >= k) & (F.col("__maxd") < guarantee))
            .select(point_id)
        )
        # checkpoint per round: without it, round r's plan re-derives
        # every prior round's windows and anti-joins — lineage grows
        # geometrically with the doubled radii and the full-suite run
        # OOM'd a broadcast on the accumulated tree (r6). `out` is
        # materialized by the final action; the pending count is the
        # round's one job.
        out, _ = checkpoint_round(out.unionByName(
            ranked.join(done_pts, point_id, "left_semi").select(
                point_id, site_id, "dist2", F.col("rank").cast("int").alias("rank")
            )
        ))
        pending, row = checkpoint_round(
            pending.join(done_pts, point_id, "left_anti"),
            lambda d: d.agg(F.count(F.lit(1))),
        )
        return (out, pending), row[0] == 0

    return fixpoint(ring, (out, pending), None)[0]
