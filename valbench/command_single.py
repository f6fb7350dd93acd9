"""command_single: one client in a closed loop sending `Command.run_single`
requests, each a 1-row DataFrame, to the reference's order-cancellation
command (src/order-cancellation.example.ts), built once during set-up.

The validator is ported here rather than imported from the tests, so a test
fixture edit cannot silently change the workload. Orders, reasons, sources
and the order of accepted orders come from the seed; every order is
cancellable by the calling customer. A round is three requests, in this order:
- accept: an existing order with a valid reason;
- schema reject: a reason shorter than 10 characters (fails at the schema
  stage, before any rule runs);
- rule reject: an unknown order id (fails at the first rule, order-exists).
Each result is checked against what the reference spec prescribes for it.
"""

from __future__ import annotations

import string

import numpy as np

from harness import median, timed_rounds

RUN_TS = 1704067200  # pinned 'now'
DAY = 86400
N_ORDERS = 16
CUSTOMER = "customer-456"
SPECIAL = ["SPECIAL50"]
SOURCES = ["customer-portal", "admin-panel", "api"]
WORDS = ("changed my mind found a better price ordered by mistake no longer "
         "needed delivery too slow wrong size gift not wanted").split()
PRODUCTS = [("product-1", "Regular T-Shirt", "physical", True),
            ("product-2", "Digital Album", "digital", True),
            ("product-3", "Personalized Mug", "personalized", False),
            ("product-4", "Software License", "downloadable", False)]
ITEMS = ("array<struct<id:string,product_id:string,product_type:string,"
         "quantity:int,price:double>>")
ORDER_DDL = (f"order_id string, customer_id string, status string, "
             f"items {ITEMS}, total_amount double, discount_code string, "
             "fulfillment_type string, created_epoch bigint, "
             "shipping_id string")
REQUEST_DDL = "orderId string, customerId string, reason string, source string"

MSG_SCHEMA_REASON = "Cancellation reason must be at least 10 characters"
MSG_NOT_FOUND = "Order not found"
MSG_CANCELLED = ("Order successfully cancelled. Refund will be processed "
                 "within 3-5 business days.")
ORDER_EXISTS = {"id": "order-exists",
                "description": "Check if order exists and belongs to customer"}


def make_orders(rng) -> tuple[list[tuple], list[tuple]]:
    """Cancellable orders of CUSTOMER and their (unshipped) shipping rows."""
    orders, shipping = [], []
    for k in range(N_ORDERS):
        items, total = [], 0.0
        for j in range(int(rng.integers(1, 4))):
            pid, _, ptype, _ = PRODUCTS[int(rng.integers(0, 2))]
            qty, price = int(rng.integers(1, 5)), float(rng.integers(5, 200))
            items.append((f"item-{k}-{j}", pid, ptype, qty, price))
            total += qty * price
        discount = [None, "", "SUMMER20"][int(rng.integers(0, 3))]
        created = RUN_TS - int(rng.integers(0, 10)) * DAY
        orders.append((f"order-{k:03d}", CUSTOMER, "processing", items, total,
                       discount, "internal", created, f"shipping-{k:03d}"))
        shipping.append((f"shipping-{k:03d}", False,
                         RUN_TS + int(rng.integers(2, 11)) * DAY))
    return orders, shipping


def make_rounds(rng, orders, n: int) -> list[list[tuple]]:
    """n rounds of (kind, request row, expected) triples."""
    def reason():
        return " ".join(rng.choice(WORDS, int(rng.integers(3, 8))))

    def source():
        return SOURCES[int(rng.integers(0, len(SOURCES)))]

    rounds = []
    for r in range(n):
        o = orders[int(rng.integers(0, len(orders)))]
        short = "".join(rng.choice(list(string.ascii_lowercase),
                                   int(rng.integers(1, 10))))
        rounds.append([
            ("accept", (o[0], CUSTOMER, reason(), source()), o),
            ("reject", (o[0], CUSTOMER, short, source()), "schema"),
            ("reject", (f"order-missing-{r}-{int(rng.integers(1e6))}",
                        CUSTOMER, reason(), source()), "rule"),
        ])
    return rounds


def build_command(spark, orders, shipping):
    """The reference's cancelOrderCommand over the given mock tables."""
    from pyspark.sql import functions as F

    from sparkcheck import FieldConstraint, build_validator
    from sparkcheck.command import Command
    from sparkcheck.model import (ArrayAllRule, Check, FieldRule,
                                  ReferentialRule)

    hours = f"(shipping_planned_ship_epoch - {RUN_TS}) / 3600.0"
    days = f"({RUN_TS} - order_created_epoch) / 86400.0"
    v = (build_validator()
         .input(constraints=[
             FieldConstraint("orderId", "length(orderId) >= 1",
                             "Order ID is required"),
             FieldConstraint("customerId", "length(customerId) >= 1",
                             "Customer ID is required"),
             FieldConstraint("reason", "length(reason) >= 10",
                             MSG_SCHEMA_REASON),
             FieldConstraint("reason", "length(reason) <= 500",
                             "Reason too long"),
             FieldConstraint("source", "source IN ('customer-portal',"
                             "'admin-panel','api')", "Invalid source"),
         ], key_col="orderId")
         .deps("orders", "products", "shipping", "special")
         .enrich("order-exists", dim="orders", on="orderId",
                 dim_key="order_id",
                 adds=["order_id", "customer_id", "status", "items",
                       "total_amount", "discount_code", "fulfillment_type",
                       "created_epoch", "shipping_id"],
                 prefix="order_", key="orderId", message=MSG_NOT_FOUND,
                 description=ORDER_EXISTS["description"])
         .field_rule("order-not-cancelled", "order_status != 'cancelled'",
                     "Order is already cancelled",
                     description="Check if order is not already cancelled")
         .field_rule("permission-to-cancel",
                     F.col("order_customer_id") == F.lit(CUSTOMER),
                     "You do not have permission to cancel this order",
                     description="Check if user has permission to cancel "
                                 "the order")
         .enrich("fetch-shipping-info", dim="shipping",
                 on="order_shipping_id", dim_key="shipping_id",
                 adds=["shipping_id", "is_shipped", "planned_ship_epoch"],
                 prefix="shipping_",
                 message="Cannot process cancellation for this order for "
                         "now, please try again later",
                 description="Fetch shipping information for the order")
         .rule(FieldRule(
             id="not-shipped-or-shipping-soon",
             description="Check if order is not shipped or planned to ship "
                         "within 24 hours",
             checks=[
                 Check(ok_expr="NOT shipping_is_shipped", key=None,
                       message="Cannot cancel orders that have already been "
                               "shipped"),
                 Check(ok_expr=f"NOT ({hours} <= 24 AND {hours} > 0)",
                       key=None,
                       message=F.format_string(
                           "Cannot cancel orders scheduled to ship within "
                           "24 hours (ships in %d hours)",
                           F.expr(f"CAST(round({hours}) AS INT)")),
                       guard="NOT shipping_is_shipped AND "
                             "shipping_planned_ship_epoch IS NOT NULL"),
             ]))
         .rule(ArrayAllRule(
             id="all-items-cancellable",
             description="Check if all items in the order are cancellable",
             items_col="order_items", item_key="product_id",
             dim="products", dim_key="product_id", flag_col="is_cancellable",
             item_fmt="%s (%s)", fmt_cols=["name", "type"],
             message_prefix="Order contains non-cancellable items: ",
             missing_ok=True, global_error=True))
         .rule(ReferentialRule(
             id="no-special-discounts",
             description="Check if order doesn't have special discount codes",
             col="order_discount_code", dim="special", dim_key="code",
             anti=True,
             guard="order_discount_code IS NOT NULL AND "
                   "order_discount_code != ''",
             global_error=True,
             message="Orders with special discount codes cannot be "
                     "cancelled"))
         .field_rule("no-third-party-fulfillment",
                     "order_fulfillment_type != 'third-party'",
                     "Orders fulfilled by third-party vendors cannot be "
                     "cancelled through this system",
                     description="Check if order is not fulfilled by third "
                                 "party")
         .field_rule("within-time-limit", f"{days} <= 10",
                     F.format_string(
                         "Order cannot be cancelled after 10 days "
                         "(created %d days ago)",
                         F.expr(f"CAST(round({days}) AS INT)")),
                     description="Check if order was created within the "
                                 "last 10 days")
         .provide(
             orders=spark.createDataFrame(orders, ORDER_DDL),
             products=spark.createDataFrame(
                 PRODUCTS, "product_id string, name string, type string, "
                           "is_cancellable boolean"),
             shipping=spark.createDataFrame(
                 shipping, "shipping_id string, is_shipped boolean, "
                           "planned_ship_epoch bigint"),
             special=spark.createDataFrame([(c,) for c in SPECIAL],
                                           "code string")))

    def execute(data, deps, context, bag):
        # mirrors cancelOrderCommand.execute: the refund is the enriched
        # order's total, as the validation stage delivered it
        return {"success": True, "orderId": data["orderId"],
                "status": "cancelled",
                "refundAmount": context["order_total_amount"],
                "message": MSG_CANCELLED}

    return Command(v, execute)


def check(kind, expected, result) -> str | None:
    """None when `result` is what the reference prescribes, else why not."""
    if kind == "accept":
        order = expected
        want = {"success": True, "orderId": order[0], "status": "cancelled",
                "refundAmount": order[4], "message": MSG_CANCELLED}
        ctx = result.context or {}
        if not result.success or result.result != want:
            return f"accept {order[0]}: {result}"
        if (ctx.get("order_shipping_id") != order[8]
                or ctx.get("order_created_epoch") != order[7]):
            return f"accept {order[0]}: context {ctx}"
        return None
    errors = result.errors
    issues = errors.issues if errors is not None else None
    if expected == "schema":
        ok = (result.step == "validation" and result.rule is None
              and issues == [("reason", MSG_SCHEMA_REASON)]
              and errors.global_error is None)
    else:
        ok = (result.step == "validation" and result.rule == ORDER_EXISTS
              and issues == [("orderId", MSG_NOT_FOUND)]
              and errors.global_error is None)
    if result.success or not ok:
        return f"{expected} reject: {result}"
    return None


def run(ctx, tracer, seconds: float) -> dict:
    import sparkcheck.engine
    import sparkcheck.model
    from sparkcheck.command import Command

    tracer.wrap(Command, "run_single", "command.single")
    tracer.wrap(sparkcheck.model.ValidatorBuilder, "validate",
                "engine.validate")
    tracer.wrap(sparkcheck.engine.ValidationResult, "single", "engine.single")

    spark = ctx.spark
    rng = np.random.default_rng(ctx.seed)
    orders, shipping = make_orders(rng)
    with tracer.span("model.build"):
        command = build_command(spark, orders, shipping)
    # enough rounds for any run length; a run uses them in order
    rounds = make_rounds(rng, orders, 64)

    kinds = []  # kind of each timed request; its index is the op id
    problems = []
    failed = [0]

    def send(requests, timed):
        for kind, row, expected in requests:
            if timed:
                tracer.op = len(kinds)
                kinds.append(kind)
            try:
                with tracer.span("command.request"):
                    result = command.run_single(
                        spark.createDataFrame([row], REQUEST_DDL),
                        run_ts=RUN_TS)
            except Exception as e:  # a failed request is counted, not fatal
                if timed:
                    failed[0] += 1
                problems.append(f"{kind} {row[0]} raised {e!r}")
                continue
            finally:
                tracer.op = None
            why = check(kind, expected, result)
            if why:
                problems.append(why)

    # warm-up: one accepted request. It runs every stage the two rejects
    # run (the schema stage, then order-exists) and all the later ones.
    send(rounds[0][:1], timed=False)
    ctx.setup_done()
    wall, n = timed_rounds(seconds, lambda i: send(rounds[1 + i], timed=True))
    ctx.timed_done()

    for p in problems:
        print(f"command_single check failed: {p}", flush=True)
    return {
        "attempted": 3 * n, "failed": failed[0],
        "correct": not problems,
        "rows_per_s": 3 * n / wall,
        "layers": lambda ops: _layers(tracer, ops, kinds),
    }


def _layers(tracer, ops, kinds) -> dict:
    from tracing import spark_per_op

    by = {k: [op for op in ops if kinds[op] == k]
          for k in ("accept", "reject")}
    d = tracer.durations
    model_build = [s["end"] - s["start"] for s in tracer.spans
                   if s["name"] == "model.build"]
    return {
        "model.build_ms": median(model_build) * 1e3,
        "engine.validate_s": median(d("engine.validate", ops)),
        "engine.eager_jobs": median(tracer.per_op_sum(
            "engine.validate", ops, "jobs")),
        "engine.jobs": median(tracer.per_op_sum(
            "command.request", ops, "jobs")),
        "command.accept_ms": median(d("command.single", by["accept"])) * 1e3,
        "command.reject_ms": median(d("command.single", by["reject"])) * 1e3,
        "command.accept_jobs": median(tracer.per_op_sum(
            "command.single", by["accept"], "jobs")),
        "command.reject_jobs": median(tracer.per_op_sum(
            "command.single", by["reject"], "jobs")),
        **spark_per_op(tracer, "command.request", ops),
    }
