"""Olist-shaped CSV inputs for the pipeline workloads, made from a seed.

The tables, columns, row ratios and dirty-data rates are those of
`graft.tools.OlistScaleGen.generate`: each value there is `pmod(hash(id + k), m)`
for a fixed offset k; here the same draw comes from a 64-bit mix salted with
the seed, so a seed fixes the bytes of every file and the expected row count
of every bronze, silver and gold table.

Usage: python3 gen.py <csv_dir> <n_orders> <seed>
"""
import csv
import datetime as dt
import os
import sys

MASK = (1 << 64) - 1

CITIES = ["sao paulo", "São Paulo", "rio de janeiro", "belo horizonte",
          "curitiba", "brasília", "porto alegre", "salvador"]
STATES = ["SP", "RJ", "MG", "PR", "DF", "RS", "BA", "sp"]
CATEGORIES = ["beleza_saude", "informatica_acessorios", "cama_mesa_banho",
              "moveis_decoracao", "esporte_lazer", "categoria_sem_traducao"]
TRANSLATION = [("beleza_saude", "health_beauty"),
               ("informatica_acessorios", "computers_accessories"),
               ("cama_mesa_banho", "bed_bath_table"),
               ("moveis_decoracao", "furniture_decor"),
               ("esporte_lazer", "sports_leisure")]
PAYMENT_TYPES = ["credit_card", "BOLETO", "voucher", "debit_card"]
# silver's accent folding of city names (graft.olist.Functions.accentFoldLower)
FOLD = str.maketrans("áàâãäéèêëíìîïóòôõöúùûüçñý", "aaaaaeeeeiiiiooooouuuucny")
# the calendar gold builds once: 2016-01-01..2022-12-31 plus the sentinel row
DIM_DATE_ROWS = (dt.date(2022, 12, 31) - dt.date(2016, 1, 1)).days + 2


def _mix(x):
    """splitmix64 finalizer."""
    x = (x + 0x9E3779B97F4A7C15) & MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK
    return x ^ (x >> 31)


def hasher(seed):
    salt = _mix(seed & MASK)

    def h(v, mod):
        return _mix(salt ^ (v & MASK)) % mod
    return h


def generate(csv_dir, n_orders, seed):
    """Writes the nine CSVs; returns the expected row count per
    `<layer>.<table>` after a full pipeline run."""
    h = hasher(seed)
    n = n_orders
    n_products = max(100, n // 3)
    n_sellers = max(50, n // 30)
    n_items = int(n * 1.13)
    n_payments = int(n * 1.04)
    n_reviews = int(n * 0.99)
    os.makedirs(csv_dir, exist_ok=True)

    def ts(base, i, days):
        t = (dt.datetime.fromisoformat(base)
             + dt.timedelta(days=days, hours=h(i, 24), minutes=h(i + 7, 60)))
        return t.strftime("%Y-%m-%d %H:%M:%S")

    def zip5(v):
        return str(h(v, 99999)).rjust(5, "0")

    def write(name, header, rows, sep=","):
        with open(os.path.join(csv_dir, name + ".csv"), "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, delimiter=sep, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows)

    write("olist_customers",
          ["customer_id", "customer_unique_id", "customer_zip_code_prefix",
           "customer_city", "customer_state"],
          ([f"c{i}", f"u{h(i, max(int(n * 0.8), 1))}", zip5(i),
            CITIES[h(i + 1, 8)], STATES[h(i + 2, 8)]] for i in range(n)))

    geo = [[zip5(i), str(-23.5 - h(i, 1000) / 1000.0), str(-46.6 - h(i + 1, 1000) / 1000.0),
            CITIES[h(i + 3, 8)], STATES[h(i + 4, 8)]] for i in range(n)]
    write("olist_geolocation",
          ["geolocation_zip_code_prefix", "geolocation_lat", "geolocation_lng",
           "geolocation_city", "geolocation_state"], geo)

    def order(i):
        s = h(i, 100)
        status = ("delivered" if s < 90 else "shipped" if s < 95
                  else "DELIVERED" if s < 98 else "canceled")
        day = h(i, 730)
        return [f"o{i}", f"c{i}", status, ts("2016-09-01 00:00:00", i, day),
                "not-a-date" if h(i + 5, 50) == 0 else ts("2016-09-01 02:00:00", i, day),
                ts("2016-09-03 00:00:00", i, day),
                ts("2016-09-08 00:00:00", i, day + h(i + 6, 20)) if s < 98 else "",
                ts("2016-09-15 00:00:00", i, day)]
    write("olist_orders",
          ["order_id", "customer_id", "order_status", "order_purchase_timestamp",
           "order_approved_at", "order_delivered_carrier_date",
           "order_delivered_customer_date", "order_estimated_delivery_date"],
          (order(i) for i in range(n)))

    def item(i):
        sep = "," if h(i + 8, 10) == 0 else "."
        return [f"o{i % n}", str(i // n + 1), f"p{h(i + 10, n_products)}", f"s{h(i + 11, n_sellers)}",
                ts("2016-09-05 00:00:00", i, h(i, 730)),
                f"{h(i, 300)}{sep}{h(i + 9, 100):02d}", f"{h(i + 12, 40)}.{h(i + 13, 100):02d}"]
    write("olist_order_items",
          ["order_id", "order_item_id", "product_id", "seller_id",
           "shipping_limit_date", "price", "freight_value"],
          (item(i) for i in range(n_items)))

    write("olist_order_payments",
          ["order_id", "payment_sequential", "payment_type",
           "payment_installments", "payment_value"],
          ([f"o{i % n}", str(i // n + 1), PAYMENT_TYPES[h(i + 14, 4)], str(h(i + 15, 10) + 1),
            f"{h(i + 16, 500)}.{h(i + 17, 100):02d}"] for i in range(n_payments)))

    # ~1% duplicate review ids (dedup window path); ~2% out-of-domain scores
    reviews = [[f"r{i - 1 if h(i + 18, 100) == 0 else i}", f"o{h(i, n)}",
                "6" if h(i + 19, 50) == 0 else str(h(i + 20, 5) + 1),
                "" if h(i + 21, 3) == 0 else "titulo",
                "" if h(i + 22, 4) == 0 else "entrega rapida muito bom",
                ts("2016-09-20 00:00:00", i, h(i, 730)),
                ts("2016-09-21 00:00:00", i, h(i, 730) + h(i + 23, 5))] for i in range(n_reviews)]
    write("olist_order_reviews",
          ["review_id", "order_id", "review_score", "review_comment_title",
           "review_comment_message", "review_creation_date", "review_answer_timestamp"],
          reviews, sep="|")

    write("olist_products",
          ["product_id", "product_category_name", "product_name_lenght",
           "product_description_lenght", "product_photos_qty", "product_weight_g",
           "product_length_cm", "product_height_cm", "product_width_cm"],
          ([f"p{i}", CATEGORIES[h(i + 24, 6)], str(h(i + 25, 60)), str(h(i + 26, 500)),
            str(h(i + 27, 5) + 1), f"{h(i + 28, 5000)},00",
            "" if h(i + 29, 20) == 0 else str(h(i + 30, 50) + 5),
            str(h(i + 31, 40) + 5), str(h(i + 32, 30) + 5)] for i in range(n_products)))

    write("olist_sellers",
          ["seller_id", "seller_zip_code_prefix", "seller_city", "seller_state"],
          ([f"s{i}", zip5(i), CITIES[h(i + 33, 8)], STATES[h(i + 34, 8)]] for i in range(n_sellers)))

    write("product_category_name_translation",
          ["product_category_name", "product_category_name_english"], TRANSLATION)

    # silver drops out-of-domain scores, then keeps one row per review id;
    # geolocation keeps one row per cleansed (zip, city, state)
    n_silver_reviews = len({r[0] for r in reviews if r[2] != "6"})
    n_geo = len({(z, c.strip().lower().translate(FOLD), s.strip()[:2].upper())
                 for z, _, _, c, s in geo})
    bronze = {"olist_customers": n, "olist_geolocation": n, "olist_orders": n,
              "olist_order_items": n_items, "olist_order_payments": n_payments,
              "olist_order_reviews": n_reviews, "olist_products": n_products,
              "olist_sellers": n_sellers, "product_category_name_translation": len(TRANSLATION)}
    silver = {"customers": n, "sellers": n_sellers,
              "product_category_translation": len(TRANSLATION), "products": n_products,
              "geolocation": n_geo, "orders": n, "order_items": n_items,
              "order_payments": n_payments, "order_reviews": n_silver_reviews}
    gold = {"dim_date": DIM_DATE_ROWS, "dim_customer": n, "dim_product": n_products,
            "dim_seller": n_sellers, "fact_orders": n, "fact_order_items": n_items,
            "fact_reviews": n_silver_reviews}
    expected = {}
    for layer, counts in (("bronze", bronze), ("silver", silver), ("gold", gold)):
        expected.update({f"{layer}.{t}": c for t, c in counts.items()})
    return expected


if __name__ == "__main__":
    for k, v in sorted(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])).items()):
        print(k, v)
