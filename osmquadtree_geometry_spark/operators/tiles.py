"""J6 / S5 — tile allocation.

Reference semantics: ``StoreBlocks`` (`process_geometry.rs:41-155`)
puts each feature in the DEEPEST registered ancestor of its quadtree;
no ancestor -> the "rem" bucket (tile = EMPTY = -1).  The registered
set is the depth-``g`` round of every node's point cell.

Closed form: ``tile = depth(qt) >= g ? round(qt, g) : -1``, one
projection with no driver action and no shuffle.  Why it equals the
registered-set lookup:

  * ``calculate_point``'s tile x is non-decreasing in lon and its tile
    y is non-increasing in lat; the ±85.0511° latitude clamp and the
    ``1 - 1e-15`` clip keep both monotone.
  * A feature's cell is the common ancestor of its bbox corners' point
    cells (a point feature's cell is its node's own cell).  Every node
    of the feature lies between those corners, so its tile x and y lie
    between theirs, and at each depth <= ``depth(qt)`` the node's
    ancestor is the feature's ancestor.  Minzoom rounding only moves
    ``qt`` up to an ancestor.
  * The registered set held exactly the depth-``g`` rounds of all node
    cells.  For ``depth(qt) >= g`` the feature's own nodes registered
    its depth-``g`` ancestor, and no deeper entry existed; for
    ``depth(qt) < g`` nothing was registered at or above ``qt``.

The argument needs node cells (JVM ``with_point_qt``) and feature
cells (JVM ``with_bbox_qt``, numpy ``calculate_bbox`` for
multipolygons) to come from the same point-cell function; both are
tested, as is the old lookup against this form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.quadtree import sql_qt_depth, sql_round_qt


def allocate_tiles(df: DataFrame, group_depth: int = 8) -> DataFrame:
    """Adds ``tile``: the ``group_depth`` ancestor of ``quadtree``, -1
    when the cell is shallower ('rem' bucket)."""
    return df.withColumn("tile", F.expr(
        f"case when {sql_qt_depth('quadtree')} >= {group_depth} "
        f"then {sql_round_qt('quadtree', str(group_depth))} else -1L end"))
