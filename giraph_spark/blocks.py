"""Blocks framework — composable superstep operators on the Pregel core.

Re-expresses the reference's Block/Piece composition API
(``giraph-block-app/.../framework/block/`` — a Block is a DAG of Pieces,
each Piece one logical superstep: ``piece/AbstractPiece.java:53-131``) as
plain combinators over step functions. A *piece* here is a callable
``(vertices, superstep) -> (vertices, stats)`` — exactly the contract of
``pregel.run_supersteps`` — so blocks compose into one step stream that
the existing driver loop executes.

| reference | here |
|---|---|
| ``SequenceBlock``    (framework/block/SequenceBlock.java:33)    | ``sequence(...)`` |
| ``RepeatBlock``      (framework/block/RepeatBlock.java:33)      | ``repeat(n, ...)`` |
| ``RepeatUntilBlock`` (framework/block/RepeatUntilBlock.java:37) | ``repeat_until(n, halt, ...)`` |
| ``IfBlock``          (framework/block/IfBlock.java:30)          | ``if_block(cond, ...)`` |
| ``FilteringBlock``   (framework/block/FilteringBlock.java:43)   | ``filtering(pred, ...)`` |
| ``EmptyBlock``       (framework/block/EmptyBlock.java)          | ``empty()`` |
| ``Pieces.forAllVertices`` (library/Pieces.java:65-88)           | ``for_all_vertices(fn)`` |
| ``Pieces.removeVertices`` (library/Pieces.java:140-180)         | ``remove_vertices(pred)`` |
| ``Pieces.reduceAndBroadcast`` (library/Pieces.java:272-327)     | ``reduce_and_broadcast(aggs, use)`` |

Blocks are *iterators of pieces*: driver-side control flow (the
reference runs Block logic on the master the same way —
``framework/internal/BlockMasterLogic.java``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from giraph_spark.pregel import partition_width

Stats = dict[str, Any]
Piece = Callable[[DataFrame, int], tuple[DataFrame, Stats]]
Block = Callable[[], Iterator[Piece]]


def empty() -> Block:
    """EmptyBlock — yields no pieces."""
    return lambda: iter(())


def sequence(*blocks: Block) -> Block:
    """SequenceBlock — run blocks one after another."""

    def gen() -> Iterator[Piece]:
        for b in blocks:
            yield from b()

    return gen


def repeat(n: int, block: Block) -> Block:
    """RepeatBlock — fixed-count loop."""

    def gen() -> Iterator[Piece]:
        for _ in range(n):
            yield from block()

    return gen


def repeat_until(
    n: int, halt: Callable[[Stats, int], bool], block: Block
) -> Block:
    """RepeatUntilBlock — bounded loop with a halt check between
    repetitions. The halt sees the stats of the repetition's last piece
    (the reference's convergence supplier runs on the master between
    supersteps the same way)."""

    def gen() -> Iterator[Piece]:
        for _ in range(n):
            last: dict[str, Stats] = {}
            for piece in block():

                def wrapped(v: DataFrame, s: int, _p: Piece = piece) -> tuple[DataFrame, Stats]:
                    out, stats = _p(v, s)
                    last["stats"] = stats
                    return out, stats

                yield wrapped
            if last and halt(last["stats"], -1):
                return

    return gen


def if_block(cond: Callable[[], bool], then: Block, otherwise: Block | None = None) -> Block:
    """IfBlock — driver-side conditional, evaluated lazily at execution."""

    def gen() -> Iterator[Piece]:
        yield from (then() if cond() else (otherwise or empty())())

    return gen


def piece(fn: Piece) -> Block:
    """Lift one step function into a Block."""
    return lambda: iter((fn,))


def for_all_vertices(update: Callable[[DataFrame], DataFrame]) -> Block:
    """Pieces.forAllVertices — apply a vertex-local transformation."""

    def p(v: DataFrame, s: int) -> tuple[DataFrame, Stats]:
        return update(v), {}

    return piece(p)


def filtering(pred: Column, block: Block) -> Block:
    """FilteringBlock — run inner pieces only on vertices passing the
    predicate; the rest pass through unchanged (union at the end of each
    piece, mirroring FilteringBlock.java:43's vertex filter)."""

    def gen() -> Iterator[Piece]:
        for inner in block():

            def wrapped(v: DataFrame, s: int, _p: Piece = inner) -> tuple[DataFrame, Stats]:
                inside = v.where(pred)
                outside = v.where(~F.coalesce(pred, F.lit(False)))
                out, stats = _p(inside, s)
                merged = out.unionByName(outside)
                # a narrow union SUMS partition counts, so chained
                # filtering pieces (e.g. striped blocks) double the
                # width per piece — rebound to the input's width
                # (coalesce is narrow: no shuffle). An input whose plan
                # does not know its width (superstep 0's file or local
                # scan) is left to the loop's width bound
                n = partition_width(v)
                return (merged.coalesce(n) if n else merged), stats

            yield wrapped

    return gen


def remove_vertices(pred: Column) -> Block:
    """Pieces.removeVertices — drop vertices where the predicate holds."""

    def p(v: DataFrame, s: int) -> tuple[DataFrame, Stats]:
        kept = v.where(~F.coalesce(pred, F.lit(False)))
        return kept, {}

    return piece(p)


def striped(stripes: int, make_block: Callable[[Column], Block]) -> Block:
    """StripingUtils analog — run a block once per hash-stripe of the
    vertex set (``library/striping/StripingUtils.java:66-137``:
    ``fastHashStripingPredicate`` splits vertices into ``stripes``
    deterministic hash groups and ``generateStripedBlock`` runs the
    block per group, bounding per-superstep message memory).

    ``make_block`` receives the stripe's membership predicate (a boolean
    Column over ``id``) and returns the block for that stripe — typically
    ``filtering(pred, ...)`` so only the stripe's vertices act while all
    state stays resident. The stripe key is the same stable integer mix
    used by the engine's salted gather, so retried tasks agree on
    membership.
    """

    def stripe_pred(i: int) -> Column:
        return F.pmod(F.xxhash64(F.col("id")), F.lit(stripes)) == i

    def gen() -> Iterator[Piece]:
        for i in range(stripes):
            yield from make_block(stripe_pred(i))()

    return gen


def reduce_and_broadcast(
    aggs: dict[str, Column],
    use: Callable[[DataFrame, dict[str, Any]], DataFrame],
) -> Block:
    """Pieces.reduceAndBroadcast — one driver-side reduce over the vertex
    state, result closed over into the next transformation (the
    aggregator one-superstep-lag contract, master/MasterCompute.java:41-47)."""

    def p(v: DataFrame, s: int) -> tuple[DataFrame, Stats]:
        row = v.agg(*[c.alias(k) for k, c in aggs.items()]).collect()[0]
        values = {k: row[k] for k in aggs}
        return use(v, values), dict(values)

    return piece(p)


def send_message_chain(
    links: list[tuple[Callable[[DataFrame], Column], DataFrame, str]],
    consume: Callable[[DataFrame], DataFrame],
) -> Block:
    """SendMessageChain (giraph-block-app/.../library/SendMessageChain.java:80-141):
    a chain of message rounds where each round's *received* value feeds
    the next round's message supplier.

    Each link is ``(message_fn, edges, combiner)``: ``message_fn(vertices)``
    returns the message Column (it may read the ``_received`` column set
    by the previous link — the chain's threaded P value); ``edges``
    (src, dst) are the targets (the startSendToNeighbors supplier);
    ``combiner`` is a gather fn in {sum, min, max} (the MessageCombiner
    of the startSend overload). A null message (the reference's "supplier
    returned null — send nothing") simply drops that vertex's messages.
    ``consume(vertices)`` is the endX: it sees the final ``_received``
    column and returns the new vertex state (without ``_received``).
    """
    from giraph_spark.pregel import gather_messages

    def link_piece(
        message_fn: Callable[[DataFrame], Column], edges: DataFrame, combiner: str
    ) -> Piece:
        def p(v: DataFrame, s: int) -> tuple[DataFrame, Stats]:
            vm = v.select(
                F.col("id").alias("src"), message_fn(v).alias("_msg")
            ).where(F.col("_msg").isNotNull())
            msgs = edges.select("src", "dst").join(vm, "src").select("dst", "_msg")
            gathered = gather_messages(msgs, [("_msg", combiner)], key="dst")
            out = (
                v.drop("_received")
                .join(
                    gathered.select(
                        F.col("dst").alias("id"), F.col("_msg").alias("_received")
                    ),
                    "id",
                    "left",
                )
            )
            return out, {}

        return p

    def gen() -> Iterator[Piece]:
        for message_fn, edges, combiner in links:
            yield link_piece(message_fn, edges, combiner)
        yield lambda v, s: (consume(v).drop("_received"), {})

    return gen


def run_block(
    spark,
    vertices: DataFrame,
    block: Block,
    max_supersteps: int = 10_000,
    **kwargs: Any,
):
    """Execute a Block on the Pregel driver loop (one piece = one
    superstep, matching BlockWorkerPieces pairing of receive/send)."""
    from giraph_spark.pregel import run_supersteps

    pieces = block()

    def step_checked(v: DataFrame, s: int) -> tuple[DataFrame, Stats]:
        try:
            p = next(pieces)
        except StopIteration:
            return v, {"_done": 1}
        out, stats = p(v, s)
        return out, dict(stats)

    return run_supersteps(
        spark, vertices, step_checked, max_supersteps=max_supersteps,
        halt=lambda st, s: "_done" in st, **kwargs,
    )
