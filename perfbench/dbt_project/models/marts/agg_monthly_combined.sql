with orders_by_month as (
    select order_month, sum(n_orders) as n_orders,
           sum(total_price) as total_price
    from {{ ref('agg_monthly_orders') }}
    group by order_month
)
select coalesce(o.order_month, s.ship_month) as month_start,
       coalesce(o.n_orders, 0) as n_orders,
       coalesce(o.total_price, 0) as ordered_value,
       coalesce(s.n_lines, 0) as n_lines_shipped,
       coalesce(s.net_revenue, 0) as shipped_revenue
from orders_by_month o
full outer join {{ ref('agg_monthly_shipments') }} s
  on o.order_month = s.ship_month
