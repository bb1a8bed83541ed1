with spend as (
    select customer_key, market_segment, count(*) as n_orders,
           sum(net_revenue) as net_revenue
    from {{ ref('fct_orders') }}
    group by customer_key, market_segment
),
ranked as (
    select spend.*,
           row_number() over (partition by market_segment
                              order by net_revenue desc, customer_key)
               as segment_rank
    from spend
)
select * from ranked where segment_rank <= 10
