"""Custom stateful streaming operator via ``transformWithState``.

Where built-in streaming aggregations can't express the semantics
(running per-key totals emitted every batch, custom eviction), the
sanctioned path is Spark 4.x's arbitrary stateful processing: a
``StatefulProcessor`` keeps named, typed state handles (a ValueState
here) in the state store — composable with timers and TTL — and each
key's new rows reach it as an iterator of ``Row``. State size stays
bounded by the active key set, which is what survives an unbounded
stream.

The state store must be the RocksDB provider
(``spark.sql.streaming.stateStore.providerClass`` =
``org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider``),
which ``session.get_spark`` and ``session.configure_session`` set:
Spark's default provider rejects the processor's column families with
``UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from graphdbetl_spark.streaming.protobuf_bridge import install_protobuf_bridge

# At import time so the Python WORKER is bridged too: unpickling a
# StatefulProcessor imports this module before the TWS state client
# makes its first (method-local) StateMessage_pb2 import. No-op where
# a real google.protobuf exists; see protobuf_bridge docstring.
install_protobuf_bridge()

RUNNING_TOTALS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE = StructType([StructField("n", LongType()), StructField("total", DoubleType())])


def make_running_totals_processor():
    """Build the ``StatefulProcessor`` behind
    :func:`stateful_running_totals`. Module-level (not closed over
    the query builder) so the processor's accumulation contract is
    directly testable against a handle implementing the
    ``getValueState``/``get``/``exists``/``update`` surface, without
    Spark's protobuf-framed state-server transport."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        # Cloudpickle serializes this locally-defined class BY VALUE,
        # so unpickling it in a Spark python worker does NOT import
        # this module — but the TWS driver worker's very first
        # protocol step (set_handle_state(PRE_INIT)) imports
        # StateMessage_pb2 before any processor method runs. The
        # unpickle-time hook below is therefore the one place early
        # enough to bridge google.protobuf in that process; the
        # install function itself is a module global, pickled by
        # reference, which is what pulls this package (and the
        # import-time bridge) into ordinary workers too.
        def __setstate__(self, state):
            install_protobuf_bridge()
            self.__dict__.update(state)

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", _STATE)

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for row in rows:  # a null value counts as an event, adds nothing
                n += 1
                if row.value is not None:
                    total += row.value
            self._state.update((n, total))
            yield Row(user_id=key[0], n_events=n, total_value=round(total, 6))

        def close(self) -> None:
            pass

    return RunningTotals()


def stateful_running_totals(stream: DataFrame) -> DataFrame:
    """Per-user running (count, sum) that persists across micro-batches
    and re-emits the updated totals each time the user appears
    (update output mode). Needs the RocksDB state store provider, which
    the engine's session confs set; see the module docstring."""
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithState(
            statefulProcessor=make_running_totals_processor(),
            outputStructType=RUNNING_TOTALS_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )
