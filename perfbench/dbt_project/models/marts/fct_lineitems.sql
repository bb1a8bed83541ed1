select l.order_key, l.line_number, l.part_key, l.supplier_key,
       l.quantity, l.return_flag, l.line_status, l.ship_date,
       cast(date_trunc('month', l.ship_date) as date) as ship_month,
       cast(date_trunc('month', o.order_date) as date) as order_month,
       l.extended_price * (1 - l.discount) as net_revenue,
       l.extended_price * (1 - l.discount) * (1 + l.tax) as gross_charge
from {{ ref('stg_lineitems') }} l
join {{ ref('stg_orders') }} o on l.order_key = o.order_key
