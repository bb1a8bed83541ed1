with lines as (
    select order_key, count(*) as n_lines, sum(net_revenue) as net_revenue
    from {{ ref('fct_lineitems') }}
    group by order_key
)
select o.order_key, o.customer_key, o.order_status, o.order_priority,
       o.order_date,
       cast(date_trunc('month', o.order_date) as date) as order_month,
       extract(year from o.order_date) as order_year,
       o.total_price, c.market_segment, c.region_name,
       coalesce(l.n_lines, 0) as n_lines,
       coalesce(l.net_revenue, 0) as net_revenue
from {{ ref('stg_orders') }} o
join {{ ref('dim_customers') }} c on o.customer_key = c.customer_key
left join lines l on o.order_key = l.order_key
